package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-rehearsal fixture builder: writes `copies`× key-shifted unions of a
  * scale-factor dir (fact tables scale; broadcast dims stay single-copy).
  * Document text is left IDENTICAL across copies on purpose — it stresses
  * the dedup operators with a genuinely duplicate-heavy corpus.
  *
  * Usage: runMain graft.tools.MakeScale /root/testdata/sf0.1 /tmp/graft_sf1 10
  */
object MakeScale {
  /** The tier of the `copies`× fixture built from `src`. */
  def profile(src: String, copies: Int): graft.BenchProfile.Profile = {
    val bytes = graft.BenchProfile.inputBytes(src)
    graft.BenchProfile.tier(
      if (bytes > Long.MaxValue / copies) Long.MaxValue else bytes * copies,
      graft.LocalSession.cpus)
  }

  def build(spark: SparkSession, src: String, dst: String, copies: Int): Unit = {
    val Shift = 100000000L
    val keyed: Map[String, Seq[String]] = Map(
      "lineitem" -> Seq("l_orderkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "customer" -> Seq("c_custkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))
    Seq("region", "nation", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    keyed.foreach { case (t, keys) =>
      // events.ts routes through Tables.events so every fixture encoding the
      // driver has shipped (NANOS-as-long, TIMESTAMP_NTZ micros, LTZ micros)
      // lands in the rehearsal fixture as a plain micros TIMESTAMP and the
      // timestamp-typed oracle family binds.
      val base =
        if (t == "events") graft.Tables.events(spark, src)
        else spark.read.parquet(s"$src/$t.parquet")
      (0 until copies).map { i =>
        keys.foldLeft(base)((df, k) => df.withColumn(k, col(k) + lit(i * Shift)))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[makescale] $t x$copies written")
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(src, dst, copiesStr) = args.take(3)
    val spark = graft.LocalSession(profile(src, copiesStr.toInt))
    build(spark, src, dst, copiesStr.toInt)
    spark.stop()
  }
}
