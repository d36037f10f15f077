"""Extra benchmarks / profiling harness for the optimization rounds.

bench.py is FROZEN for measurement; this file holds the guide §1 tooling:
noop-sink isolation per query, min-of-N timing in a fresh session with
bench.py's exact config, and .explain("formatted") capture for the
plans/r06 artifacts.

Usage:
  python bench_extra.py time <query> [n_runs]        # noop-forced timing
  python bench_extra.py explain <query> <out_file>   # formatted plan
  python bench_extra.py timeall <q1> <q2> ...        # one session, each 2x
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# bench.py's $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS settings and defaults
from bench import CPUS, SF_DIR  # noqa: E402


def session():
    from bench import build_session
    spark = build_session(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def force(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    cmd = sys.argv[1]
    import __spark_entry__ as entry
    qs = entry.queries()
    spark = session()
    if cmd == "time":
        name = sys.argv[2]
        n = int(sys.argv[3]) if len(sys.argv) > 3 else 3
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        runs = []
        for _ in range(n):
            t0 = time.time()
            force(qs[name](spark, SF_DIR))
            runs.append(round(time.time() - t0, 3))
        print({"query": name, "runs": runs, "min": min(runs), "sf_dir": SF_DIR})
    elif cmd == "explain":
        name, out = sys.argv[2], sys.argv[3]
        df = qs[name](spark, SF_DIR)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(out, "w") as f:
            f.write(txt)
        print(f"wrote {out} ({len(txt)} bytes)")
    elif cmd == "timeall":
        names = sys.argv[2:]
        out = {}
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            runs = []
            for _ in range(2):
                t0 = time.time()
                force(qs[name](spark, SF_DIR))
                runs.append(round(time.time() - t0, 3))
            out[name] = runs
            print(name, runs, flush=True)
        print({"sf_dir": SF_DIR, "runs": out})
    spark.stop()


if __name__ == "__main__":
    main()
