#!/usr/bin/env python3
"""Differential seed-fuzz sweep: replay the full oracle surface on perturbed
fixtures (see graft.tools.MakeFuzz for the variant definitions).

For each variant: build the fuzz fixture from the base sfDir, run graft.Verify
over it (Spark side), then tools/oracle_check.py (DuckDB side, same parquet),
and collect per-query pass/fail. Both engines read identical data, so a
mismatch is a genuine semantics divergence between a query and its oracle —
exactly the overfit class the fixed fixtures can never expose.

Usage: python3 tools/fuzz_sweep.py [baseDir] [variant[:seed] ...]
Defaults: base=/root/testdata/sf0.01, variants = rand:1 rand:2 rand:3
          empty single allnull clones utext uhard
Writes FUZZ_RESULTS.json in cwd; exit 1 if any variant had failures.
"""
import json
import os
import re
import subprocess
import sys
import time

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

def java_cmd(repo, xmx="24g"):
    flags = []
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cp = os.path.join(repo, "target", "scala-2.13", "classes") + ":/opt/spark/jars/*"
    return ["java", "-cp", cp, f"-Xmx{xmx}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + flags


def run(cmd, **kw):
    return subprocess.run(cmd, capture_output=True, text=True, **kw)


def main():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    args = sys.argv[1:]
    base = "/root/testdata/sf0.01"
    if args and (os.sep in args[0] or args[0].startswith("sf")
                 or os.path.isdir(args[0])):
        # path-shaped OR existing-dir first arg: a relative dir like
        # "testdata" is a base dir, not a variant; a path-shaped arg that
        # does NOT exist hard-fails rather than silently falling back to
        # the default and treating the typo as a variant
        if not os.path.isdir(args[0]):
            sys.exit(f"fuzz_sweep: base dir not found: {args[0]}")
        base = args[0]
        args = args[1:]
    variants = args or ["rand:1", "rand:2", "rand:3",
                        "empty", "single", "allnull", "clones", "utext", "uhard"]
    work = "/tmp/graft_fuzz"
    os.makedirs(work, exist_ok=True)
    results = {}
    any_fail = False
    for vs in variants:
        variant, _, seed = vs.partition(":")
        seed = seed or "0"
        tag = f"{variant}_{seed}" if variant == "rand" else variant
        fix = os.path.join(work, f"fix_{tag}")
        out = os.path.join(work, f"out_{tag}")
        t0 = time.time()
        mk = run(java_cmd(repo) + ["graft.tools.MakeFuzz", base, fix, variant, seed],
                 cwd=repo)
        if mk.returncode != 0:
            results[tag] = {"stage": "makefuzz", "error": mk.stderr[-2000:]}
            any_fail = True
            print(f"== {tag}: MAKEFUZZ FAILED", flush=True)
            continue
        vf = run(java_cmd(repo) + ["graft.Verify", fix, out], cwd=repo)
        verify_errs = re.findall(r"\[verify\] (\S+) failed: (.*)", vf.stderr)
        # Verify exits 1 when any query failed; that is reported per query
        # below. Only an exit without per-query failures is a crash.
        if vf.returncode != 0 and not verify_errs:
            results[tag] = {"stage": "verify", "error": vf.stderr[-2000:]}
            any_fail = True
            print(f"== {tag}: VERIFY CRASHED", flush=True)
            continue
        oc = run([sys.executable, os.path.join(repo, "tools", "oracle_check.py"),
                  fix, out], cwd=repo)
        fails = [l for l in oc.stdout.splitlines() if l.startswith("FAIL")]
        tail = oc.stdout.strip().splitlines()[-1] if oc.stdout.strip() else "?"
        results[tag] = {
            "summary": tail,
            "verify_failures": [f"{n}: {m}" for n, m in verify_errs],
            "oracle_failures": fails,
            "wall_sec": round(time.time() - t0, 1),
        }
        if fails or verify_errs:
            any_fail = True
        print(f"== {tag}: {tail}; verify_failures={len(verify_errs)} "
              f"({round(time.time()-t0,1)}s)", flush=True)
        for line in (results[tag]["verify_failures"] + fails)[:20]:
            print("   " + line, flush=True)
    with open("FUZZ_RESULTS.json", "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)
    sys.exit(1 if any_fail else 0)


if __name__ == "__main__":
    main()
