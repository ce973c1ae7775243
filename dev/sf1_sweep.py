#!/usr/bin/env python3
"""One-command FULL-202 sf1 oracle sweep (VERDICT r19 #2/#3).

Routes every registered query through a DuckDB oracle at sf1 scale:
  - 185 queries: full `target/sf1` (50k docs / 20k vectors / 6M lineitem)
  - the 17 Lloyd-replay/list-op v_* whose DuckDB SQL is cost-bounded at
    20k x 64 (v_ivfpq_search alone >150 s): `target/sf1slice` — the
    deterministic 200-bases-x-10-twins slice dev/make_sf1.py builds,
    which keeps the sf1-specific cross-copy twin structure at a size
    where those oracles finish in seconds.
Both compare legs use dev/compare.py (connection recycled every 20
queries — the r19 single-connection wedge fix).

Usage: python3 dev/sf1_sweep.py [--skip-spark]
  --skip-spark reuses existing /tmp/verify_sf1 + /tmp/verify_sf1slice
  dumps (compare-only rerun).
Exit 0 only on 202/202 oracle-green.
"""
import json
import os
import subprocess
import sys

# the 17 oracle-cost-bounded v_* (see dev/sf1_vinvariants.py, VERDICT r19)
SLICED = ("v_ann_ivf v_ann_lsh v_pq_train_gain v_ivf_retrain v_ivf_train_gain "
          "v_neardup_cosine v_ivfpq_search v_pq_recall v_matryoshka_probe "
          "v_semdedup v_ivfpq_trained v_kmeans_refine v_maxsim_probe "
          "v_mmr_rerank v_label_cohesion v_ivfpq_batch v_ivfpq_rerank").split()

SF1, SLICE = "target/sf1", "target/sf1slice"
OUT, OUTS = "/tmp/verify_sf1", "/tmp/verify_sf1slice"


def run(desc, cmd, **kw):
    print(f"\n=== {desc}: {' '.join(cmd)}", flush=True)
    r = subprocess.run(cmd, **kw)
    if r.returncode != 0:
        sys.exit(f"FAILED at: {desc} (exit {r.returncode})")


def main():
    skip_spark = "--skip-spark" in sys.argv
    if os.path.exists(f"{SF1}/lineitem.parquet") and \
       os.path.exists(f"{SLICE}/embeddings.parquet"):
        print("=== sf1 + slice already built (delete target/sf1* to rebuild)")
    else:
        run("build sf1 + slice", ["python3", "dev/make_sf1.py"])
    if not skip_spark:
        env = {**os.environ, "SPARK_GRAFT_CPUS": "8"}
        run("Spark leg: full 202 at sf1",
            ["sbt", "-batch", f"runMain graft.Verify {SF1} {OUT}"], env=env)
        run("Spark leg: 17 v_* at sf1slice",
            ["sbt", "-batch",
             "runMain graft.Verify " + " ".join([SLICE, OUTS] + SLICED)],
            env=env)
    # the green claim below is arithmetic, not vibes: the full dump must
    # carry every registered oracle, the slice dump exactly the 17, and
    # the two compare scopes must partition the full set. A renamed query
    # or a stale SLICED list fails HERE (and compare.py itself also
    # rejects scope names missing from oracle_sql.json).
    full = set(json.load(open(f"{OUT}/oracle_sql.json")))
    sliced = set(json.load(open(f"{OUTS}/oracle_sql.json")))
    if sliced != set(SLICED) or not sliced <= full:
        sys.exit(f"FAILED: slice oracle set mismatch: {sorted(sliced ^ set(SLICED))}")
    n_full, n_slice = len(full) - len(SLICED), len(SLICED)
    run(f"oracle leg: {n_full} at sf1",
        ["python3", "dev/compare.py", SF1, OUT, "--skip", ",".join(SLICED)])
    run(f"oracle leg: {n_slice} v_* at sf1slice",
        ["python3", "dev/compare.py", SLICE, OUTS, "--only", ",".join(SLICED)])
    print(f"\nSWEEP GREEN: {len(full)}/{len(full)} sf1-oracle-green "
          f"({n_full} @ {SF1} + {n_slice} v_* @ {SLICE})")


if __name__ == "__main__":
    main()
