"""Trained-vs-untrained quantizer soak for the bitext miner: does
Lloyd training keep bucket occupancy balanced on a corpus where the
first-8 centroid rule DEGENERATES?

The round-11 verdict's residual on ``bitext_mine_margin_ivf`` was that
it mined over ``vec_id < 8`` centroids; round 12 wires the trained
path (``bitext_mine_margin_ivf_trained``).  This soak builds the
adversarial corpus that motivates the wiring: the base embeddings with
vec_id 0..7 REPLACED by near-identical copies of vector 0 (component 0
nudged by id * 1e-6 — deterministic, norm-preserving to 1e-6).  The
first-8 quantizer then has 8 near-collinear centroids, so assignment
collapses into whichever centroid wins the dot-product/tiebreak — one
bucket holds (almost) the whole corpus and the candidate equi-join
degrades to the brute all-pairs product.  Lloyd rounds split dense
regions by construction, so the trained quantizer keeps occupancy flat
and the pair relation bounded.

Reported per quantizer: nonempty buckets, max/mean occupancy ratio,
and the IVF candidate-pair count (nprobe=2) — the number that actually
bounds the miner's shuffle at 100 TB.

Usage: python tools/soak_bitext_trained.py [base_sf_dir]
Pipe stdout to SOAK_r12_bitext_trained.txt.
"""

from __future__ import annotations

import json
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402


def occupancy(assigned) -> dict:
    rows = assigned.groupBy("centroid_id").count().collect()
    counts = sorted((r["count"] for r in rows), reverse=True)
    mean = sum(counts) / len(counts)
    return {
        "nonempty_buckets": len(counts),
        "max_occ": counts[0],
        "max_over_mean": round(counts[0] / mean, 2),
    }


def main() -> None:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from tomasz_weight_tracker_spark.operators import similarity as S
    from tomasz_weight_tracker_spark.plans.similarity_ann import ivf_candidate_pairs
    from tomasz_weight_tracker_spark.session import get_spark

    spark = get_spark("soak-bitext-trained")
    e0 = spark.read.parquet(f"{base}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    v0 = e0.filter(F.col("vec_id") == 0).first()["embedding"]

    # Skewed corpus: ids 0..7 become near-identical copies of vector 0.
    skew = e0.select(
        "vec_id",
        F.when(
            F.col("vec_id") < 8,
            F.concat(
                F.array(F.lit(float(v0[0])) + F.col("vec_id") * F.lit(1e-6)),
                F.array(*[F.lit(float(x)) for x in v0[1:]]),
            ),
        )
        .otherwise(F.col("embedding").cast("array<double>"))
        .alias("embedding"),
    )
    d = tempfile.mkdtemp(prefix="bitext_skew_")
    skew.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    e = spark.read.parquet(f"{d}/embeddings.parquet")
    n = e.count()

    for label, cents in (
        (
            "first8_untrained",
            e.filter(F.col("vec_id") < 8).select(
                F.col("vec_id").alias("centroid_id"), "embedding"
            ),
        ),
        ("lloyd_trained", S.ivf_train(e, n_centroids=8, iterations=2)),
    ):
        t0 = time.monotonic()
        occ = occupancy(S.ivf_assign(e, cents))
        n_pairs = ivf_candidate_pairs(e, n_cent=8, centroids=cents).count()
        wall = time.monotonic() - t0
        print(
            json.dumps(
                {
                    "quantizer": label,
                    "n_vecs": n,
                    "ivf_pairs": n_pairs,
                    "brute_pairs": (n // 2) * (n - n // 2),
                    "wall_s": round(wall, 2),
                    **occ,
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
