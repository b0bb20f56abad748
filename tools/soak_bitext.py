"""Bitext-mining pair-stage soak: is the IVF candidate relation's
volume/wall near-LINEAR in corpus size?

The generic soak (tools/soak.py) copies ``embeddings`` unreplicated
(the ANN queries pin fixed query/centroid sets), so it cannot answer
this.  Here the corpus is replicated k x with PARITY-PRESERVING id
offsets (src stays src, tgt stays tgt) and the coarse-quantizer size
grows with it (C = 8k — constant expected bucket occupancy, the
standard IVF operating discipline; C ~ sqrt(N) or trained centroids
give the same conclusion with a different exponent).  For each k we
measure

- the candidate pair count and the wall to materialize it
  (``ivf_candidate_pairs`` — the stage the round-10 verdict flagged as
  quadratic in the brute-force miner), and
- the full margin-mining wall (``mine_bitext_ivf``),

against the brute-force pair count n_src * n_tgt, which grows k^2.
Replica vectors are component-ROTATED copies (rotate by r positions
for replica r): norm-preserving and deterministic, but genuinely novel
directions — verbatim copies would make every mutual top-k list k
identical qdots, pinning the margin at exactly 1.0 and (correctly, but
vacuously) mining zero pairs at k >= 4.

Usage: python tools/soak_bitext.py [base_sf_dir] [ks...]
Appends nothing; pipe stdout to SOAK_r11_bitext.txt.
"""

from __future__ import annotations

import json
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    ks = [int(a) for a in sys.argv[2:]] or [1, 2, 4, 8]

    from tomasz_weight_tracker_spark.plans.similarity_ann import (
        ivf_candidate_pairs,
        mine_bitext_ivf,
    )
    from tomasz_weight_tracker_spark.session import get_spark

    spark = get_spark("soak-bitext")
    e0 = spark.read.parquet(f"{base}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    max_id = e0.agg(F.max("vec_id")).first()[0]
    stride = max_id + 2 - (max_id % 2)  # even stride: replica parity preserved

    for k in ks:
        dim = len(e0.first()["embedding"])
        reps = [
            e0.select(
                (F.col("vec_id") + F.lit(r * stride)).alias("vec_id"),
                F.concat(
                    F.slice("embedding", r % dim + 1, dim - r % dim),
                    F.slice("embedding", 1, r % dim),
                ).alias("embedding"),
            )
            for r in range(k)
        ]
        corpus = reps[0]
        for rdf in reps[1:]:
            corpus = corpus.unionAll(rdf)
        d = tempfile.mkdtemp(prefix=f"bitext_soak_k{k}_")
        corpus.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
        e = spark.read.parquet(f"{d}/embeddings.parquet")
        n = e.count()
        n_src = n // 2 + n % 2
        n_tgt = n // 2
        n_cent = 8 * k

        t0 = time.monotonic()
        n_pairs = ivf_candidate_pairs(e, n_cent=n_cent).count()
        t_pairs = time.monotonic() - t0

        t0 = time.monotonic()
        n_mined = mine_bitext_ivf(e, n_cent=n_cent, k=4).count()
        t_full = time.monotonic() - t0

        print(
            json.dumps(
                {
                    "k": k,
                    "n_vecs": n,
                    "n_cent": n_cent,
                    "ivf_pairs": n_pairs,
                    "brute_pairs": n_src * n_tgt,
                    "pair_cut": round(n_src * n_tgt / max(n_pairs, 1), 1),
                    "pair_stage_s": round(t_pairs, 2),
                    "full_mine_s": round(t_full, 2),
                    "mined_rows": n_mined,
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
