#!/usr/bin/env python
"""64x bucket-occupancy probe for the embedding-LSH defaults
(VERDICT r07 directive #5; SCALING.md round-8 section).

The round-7 8x sweep showed candidate volume tracking true near-dup
volume — but on PLANTED exact duplicates. This probe answers the next
order of magnitude with ORGANIC occupancy: a 64x corpus (128k vectors
at the sf0.1 base) built by re-drawing each copy around the base
distribution (seeded Gaussian jitter at 0.7 x per-component std, then
cluster structure survives but no copy is a planted twin), so bucket
occupancy reflects how a real corpus of this density would land in the
2**16-bucket bands.

Reported per scale (1x, 64x), using the PRODUCTION banding
(`operators.similarity._signature_blocks` — the same code path
`embedding_lsh_pairs` runs, not a reimplementation):

- per-band bucket-occupancy histogram: max / p99.9 / p99 / mean, and
  the count of buckets over the default ``max_bucket=8192`` cap (the
  would-be dropped count at defaults);
- candidate-pair count before cosine verification (threshold=-1), the
  join volume the r06 scale trap inflated;
- `embedding_lsh_pairs` wall-clock at the registered defaults;
- a small-cap run (cap chosen below the measured max occupancy) that
  EXERCISES `partitioning.drop_hot_keys` (the screen
  `embedding_lsh_pairs` runs) on this organic distribution:
  the dropped-bucket count must be > 0 and logged, and the candidate
  count must shrink accordingly — proving the defense-in-depth path is
  live, not just configured.

Run: ``python tools/lsh_occupancy_64x.py`` (exclusive — no concurrent
Spark). Takes a few minutes; writes nothing outside a tempdir.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COPIES = 64
_OFF = 100_000_000
JITTER = 0.7  # x per-component std — decorrelates copies, keeps clusters


def build_64x(out_path: str, copies: int = COPIES) -> int:
    """Organic corpus at ``copies``× the base: seeded re-draws around
    the base distribution (docstring above)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    ids = base.column("vec_id").to_numpy()
    labels = base.column("label").to_numpy()
    vecs = np.asarray(base.column("embedding").to_pylist(), dtype=np.float32)
    comp_std = vecs.std(axis=0)
    out_ids, out_vecs, out_labels = [], [], []
    for c in range(copies):
        rng = np.random.default_rng(42_000 + c)
        if c == 0:
            jittered = vecs
        else:
            jittered = (vecs + rng.normal(0.0, JITTER * comp_std, vecs.shape)).astype(
                np.float32
            )
        out_ids.append(ids + c * _OFF)
        out_vecs.append(jittered)
        out_labels.append(labels)
    import numpy as _np

    all_vecs = _np.concatenate(out_vecs)
    table = pa.table(
        {
            "vec_id": pa.array(_np.concatenate(out_ids), type=pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(all_vecs.reshape(-1), type=pa.float32()), all_vecs.shape[1]
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(_np.concatenate(out_labels), type=pa.int32()),
        }
    )
    pq.write_table(table, out_path)
    return table.num_rows


def occupancy_stats(spark, path: str, block_size: int = 16) -> dict:
    from pyspark.sql import functions as F

    from neo4j_database_to_data_importer_package_spark.operators.similarity import (
        _signature_blocks,
        with_norm,
    )
    from neo4j_database_to_data_importer_package_spark.sources.star_schema import (
        read_parquet_table,
    )

    df = read_parquet_table(spark, path)
    n = with_norm(df, "embedding", "vec_id")
    blocks = _signature_blocks(
        n, "vec_id", dim=64, n_bits=128, block_size=block_size
    )
    occ = blocks.groupBy("q", "block").agg(F.count(F.lit(1)).alias("occ"))
    row = occ.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("occ").alias("max_occ"),
        F.expr("percentile_approx(occ, 0.999, 100000)").alias("p999"),
        F.expr("percentile_approx(occ, 0.99, 100000)").alias("p99"),
        F.avg("occ").alias("mean_occ"),
        F.sum(F.when(F.col("occ") > 8192, 1).otherwise(0)).alias("over_default_cap"),
    ).first()
    return row.asDict()


def _parse_args(argv: list[str]):
    """Validate argv BEFORE a JVM boots (round 12, same pattern as the
    text twin ``text_lsh_occupancy_16x.py``)."""
    import argparse

    def positive_int(a: str) -> int:
        v = int(a)
        if v < 1:
            raise argparse.ArgumentTypeError(f"scale must be >= 1, got {v}")
        return v

    def block_size_arg(a: str) -> int:
        v = int(a)
        if v < 1 or 128 % v != 0:
            raise argparse.ArgumentTypeError(
                f"block size must divide n_bits=128, got {v}"
            )
        return v

    p = argparse.ArgumentParser(
        description="Embedding-LSH occupancy probe (organic re-draw corpus)"
    )
    p.add_argument(
        "scales",
        nargs="*",
        type=positive_int,
        help="corpus copy multipliers to probe (default: 1 %d)" % COPIES,
    )
    p.add_argument(
        "--occupancy-only",
        action="store_true",
        help="skip the candidate/verified-pair joins — at cap-horizon "
        "scales (10M+ vectors) the banding histogram is the question "
        "and the Σocc² candidate join is hours of wall for no answer "
        "(round-13 horizon closure, mirroring the text twin's "
        "--skip-minhash)",
    )
    p.add_argument(
        "--block-size",
        type=block_size_arg,
        default=16,
        help="banding block width for the occupancy histogram (the "
        "documented widen-the-block remedy dial; n_bits stays 128, so "
        "32 -> 4 bands of 2^32-key blocks)",
    )
    args = p.parse_args(argv)
    args.scales = tuple(args.scales) or (1, COPIES)
    return args


def main() -> None:
    args = _parse_args(sys.argv[1:])
    scales = args.scales

    from pyspark.sql import functions as F

    from neo4j_database_to_data_importer_package_spark.operators.similarity import (
        embedding_lsh_pairs,
    )
    from neo4j_database_to_data_importer_package_spark.session import get_spark
    from neo4j_database_to_data_importer_package_spark.sources.star_schema import (
        read_parquet_table,
    )

    spark = get_spark(app_name="lsh-occupancy-64x")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="lsh64x_")
    try:
        targets = []
        for copies in scales:
            if copies == 1:
                targets.append(("1x", f"{SF_DIR}/embeddings.parquet"))
                continue
            path_c = f"{tmp}/embeddings_{copies}x.parquet"
            n_c = build_64x(path_c, copies)
            print(f"built {copies}x organic corpus: {n_c} vectors", flush=True)
            targets.append((f"{copies}x", path_c))
        for label, path in targets:
            t0 = time.perf_counter()
            st = occupancy_stats(spark, path, block_size=args.block_size)
            occ_wall = time.perf_counter() - t0
            nvec = read_parquet_table(spark, path).count()
            n_bands = 128 // args.block_size
            print(
                f"occupancy {label}: n={nvec} buckets_used={st['n_buckets']} "
                f"(2^{args.block_size} per band x {n_bands} bands) "
                f"mean={st['mean_occ']:.2f} "
                f"p99={st['p99']} p99.9={st['p999']} max={st['max_occ']} "
                f"over_default_cap(8192)={st['over_default_cap']} "
                f"wall={occ_wall:.1f}s",
                flush=True,
            )
            if args.occupancy_only:
                continue
            df = read_parquet_table(spark, path)
            cands = embedding_lsh_pairs(df, threshold=-1.0).count()
            t0 = time.perf_counter()
            pairs = embedding_lsh_pairs(df).count()
            dt = time.perf_counter() - t0
            print(
                f"lsh {label}: candidates={cands} "
                f"pairs(cos>=0.30)={pairs} wall={dt:.2f}s "
                f"allpairs_trap(n^2/8)={nvec * nvec // 8}",
                flush=True,
            )
            if label != "1x":
                # Exercise the cap on the organic distribution: pick a
                # cap below the measured max so drops actually happen.
                small_cap = max(int(st["p99"]), 8)
                capped = embedding_lsh_pairs(
                    df, threshold=-1.0, max_bucket=small_cap
                ).count()
                print(
                    f"lsh {label} capped(max_bucket={small_cap}): "
                    f"candidates={capped} (was {cands}; drop logged by "
                    f"drop_hot_keys)",
                    flush=True,
                )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
