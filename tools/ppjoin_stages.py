"""Stage-split timing for ppjoin_pairs: candidate join vs verify leg.

VERDICT r8 order #3: the open question from the r8 slope note is whether
the verify leg (candidates ⋈ both shingle arrays + per-pair intersect)
or the prefix candidate join dominates at scale — if verify dominates,
the PPJoin+ suffix/positional filter is worth its complexity; if the
candidate join dominates, it isn't (the filter only shrinks the verify
input).

Protocol: bench.median3 (one warm pass, then 3 samples with every
persisted RDD dropped between them, off the clock), both stages timed
inside each sample:

- t_cand  = build shingles + prefixes + candidate pairs, materialized
  via localCheckpoint (so the verify timing below excludes it);
- t_verify = the verify leg alone, running from the checkpointed
  candidates and shingle frame.

Usage: python tools/ppjoin_stages.py [sf_dir] [threshold]
Prints one JSON line {"sf": ..., "t_cand": ..., "t_verify": ...,
"n_cand": ..., "n_pairs": ..., "protocol": ...}.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import median3, sf_label  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    threshold = float(args[1]) if len(args) > 1 else 0.5

    from randas_spark.operators.dedup import _ppjoin_candidates, _ppjoin_verify
    from randas_spark.queries import t
    from randas_spark.session import get_spark

    spark = get_spark("ppjoin-stages")
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")

    laps = []  # (t_cand, t_verify, n_cand, n_pairs) per sample, warm first

    def both_stages() -> None:
        t0 = time.perf_counter()
        sh, cand = _ppjoin_candidates(docs, "doc_id", "text", 5, threshold)
        cand = cand.localCheckpoint()  # materializes the candidate stage
        n_cand = cand.count()
        t1 = time.perf_counter()
        n_pairs = _ppjoin_verify(sh, cand, threshold).count()
        laps.append((t1 - t0, time.perf_counter() - t1, n_cand, n_pairs))

    median3(spark, both_stages)
    t_cand, t_verify, n_cand, n_pairs = zip(*laps[1:])
    print(
        json.dumps(
            {
                "sf": sf_label(sf_dir),
                "threshold": threshold,
                "t_cand": round(statistics.median(t_cand), 3),
                "t_verify": round(statistics.median(t_verify), 3),
                "n_cand": n_cand[-1],
                "n_pairs": n_pairs[-1],
                "protocol": "isolated median-of-3 after warm; clean unpersist",
            }
        )
    )


if __name__ == "__main__":
    main()
