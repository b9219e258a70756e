package graft.tools

import org.apache.spark.sql.functions._

/** Scale-rehearsal: raw hamming pairs vs the Engine pipeline with its
  * exact-dedup pre-pass, on a duplicate-heavy corpus.
  */
object RehearseDedup {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sf1")
    val spark = graft.LocalSession.forDir(dir)
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
    val engine = new graft.Engine(spark)
    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[rehearse] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); r
    }
    val withPre = time("nearDupHamming (pre-pass)") {
      engine.nearDupHamming(docs, "text", "doc_id", maxDist = 16).count()
    }
    val without = time("raw hammingPairs") {
      val tc = docs
        .select(col("doc_id"), explode(graft.dedup.Dedup.tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("cnt"))
      graft.dedup.Dedup.hammingPairs(
        graft.dedup.Dedup.simhashWide(tc, "doc_id"), "doc_id", "simhash",
        bands = 3, maxDist = 16).count()
    }
    println(s"[rehearse] pairs with pre-pass: $withPre, without: $without")
    val jacPre = time("nearDupJaccard (pre-pass)") {
      engine.nearDupJaccard(docs, "text", "doc_id").count()
    }
    println(s"[rehearse] verified jaccard pairs with pre-pass: $jacPre (dd8 raw shape: 314,600)")
    spark.stop()
  }
}
