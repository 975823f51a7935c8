#!/usr/bin/env python
"""16x bucket-occupancy probe for the text LSH dedup paths
(round 9; SCALING.md "text banding occupancy" section; round 10 adds
the corpus-derived SimHash geometry rows — VERDICT r09 directive #2).

Round 9 put a logged bucket-occupancy cap (today
``partitioning.drop_hot_keys``) in front of the MinHash band
self-join and the SimHash block self-join, and this probe proved the
then-fixed 16-bit SimHash blocks quadratic (occupancy linear in corpus
size at constant selectivity). Round 10 parameterized the geometry:
128-bit signatures with ``derive_simhash_block_bits`` widening the
block as the corpus grows. The probe now reports BOTH geometries per
scale — the 16-bit floor (the r09 linear-growth evidence, kept for
comparison) and the derived production geometry, whose hottest-bucket
occupancy must stay FLAT across 16× (the same evidence standard the
MinHash band met in round 9).

This probe answers the same question the round-8 embedding probe
(`tools/lsh_occupancy_64x.py`) answered for hyperplane LSH: how does
ORGANIC bucket occupancy scale with corpus size, where does the
default cap sit relative to it, and does the drop path work on real
(non-planted) data?

The 16x corpus is built by half-splicing: copy k of doc i is the first
token-half of doc i joined to the second token-half of doc (i+k) mod n.
Every synthetic doc is real text with realistic token/shingle
statistics, no copy is a planted twin of any other, and the build is
fully deterministic (no RNG). 80k docs at the sf0.1 base.

Reported per scale (1x, 4x, 16x), always via the PRODUCTION banding
(`dedup.minhash_signatures` and `dedup._simhash_blocks` — the code the
registered queries run, not a reimplementation):

- MinHash (band, signature) occupancy: max / p99 / mean, buckets over
  the default ``max_bucket=8192``;
- SimHash (q, block) occupancy: the same stats — this is the path that
  concentrates (65 536 possible values per quarter; similar docs share
  quarters), so its mean occupancy grows linearly with corpus size
  while MinHash stays near 1;
- LSH candidate-pair volume for both joins (the quantity the cap
  bounds), vs the all-pairs n(n-1)/2 trap;
- a small-cap run at 16x (cap below the measured SimHash max) that
  EXERCISES the drop path on organic data: the dropped-bucket count
  must be > 0 and logged, and the candidate count must shrink.

Run: ``python tools/text_lsh_occupancy_16x.py`` (exclusive — no
concurrent Spark). Takes a few minutes; writes only into a tempdir.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COPIES = 16
_OFF = 100_000_000


def build_spliced(out_path: str, copies: int) -> int:
    """Half-spliced organic corpus: copies x the base document table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_table(f"{SF_DIR}/documents.parquet")
    ids = base.column("doc_id").to_pylist()
    texts = base.column("text").to_pylist()
    langs = base.column("lang").to_pylist()
    sources = base.column("source").to_pylist()
    n = len(ids)
    halves = []
    for t in texts:
        toks = t.split()
        halves.append((toks[: len(toks) // 2], toks[len(toks) // 2 :]))

    out_ids, out_texts, out_langs, out_sources, out_chars = [], [], [], [], []
    for k in range(copies):
        for i in range(n):
            if k == 0:
                txt = texts[i]
            else:
                txt = " ".join(halves[i][0] + halves[(i + k) % n][1])
            out_ids.append(ids[i] + k * _OFF)
            out_texts.append(txt)
            out_langs.append(langs[i])
            out_sources.append(sources[i])
            out_chars.append(len(txt))
    tbl = pa.table(
        {
            "doc_id": pa.array(out_ids, pa.int64()),
            "text": pa.array(out_texts, pa.string()),
            "lang": pa.array(out_langs),
            "source": pa.array(out_sources),
            "n_chars": pa.array(out_chars, pa.int64()),
        }
    )
    pq.write_table(tbl, out_path)
    return len(out_ids)


def occupancy_stats(banding, key_cols, cap):
    from pyspark.sql import functions as F

    occ = banding.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("occ"))
    st = occ.agg(
        F.count(F.lit(1)).alias("buckets"),
        F.max("occ").alias("mx"),
        F.expr("percentile(occ, 0.99)").alias("p99"),
        F.avg("occ").alias("mean"),
        F.sum(F.col("occ") * (F.col("occ") - 1) / 2).alias("cand_pairs"),
        F.sum(F.when(F.col("occ") > cap, 1).otherwise(0)).alias("over_cap"),
    ).first()
    return st


def _parse_scales(argv: list[str]) -> tuple[tuple[int, ...], bool]:
    """Validate the optional scale list BEFORE a JVM boots (ADVICE r11:
    a non-integer arg used to raise an uncaught ValueError after the
    Spark session was already up, and 0/negative scales reached
    build_spliced unchecked)."""
    import argparse

    def positive_int(a: str) -> int:
        v = int(a)  # argparse turns ValueError into a clean usage error
        if v < 1:
            raise argparse.ArgumentTypeError(f"scale must be >= 1, got {v}")
        return v

    p = argparse.ArgumentParser(
        description="Text LSH occupancy probe (half-spliced organic corpus)"
    )
    p.add_argument(
        "scales",
        nargs="*",
        type=positive_int,
        help="corpus copy multipliers to probe (default: 1 4 %d)" % COPIES,
    )
    p.add_argument(
        "--skip-minhash",
        action="store_true",
        help="probe only the SimHash geometries (round 12: the 1024x "
        "organic-horizon run would spend ~45 min in the MinHash stage "
        "whose slope is already triple-anchored)",
    )
    ns = p.parse_args(argv)
    return tuple(ns.scales) or (1, 4, COPIES), ns.skip_minhash


def main() -> int:
    scales, skip_minhash = _parse_scales(sys.argv[1:])

    from pyspark.sql import SparkSession

    from neo4j_database_to_data_importer_package_spark.operators.dedup import (
        StorageLevel,
        _simhash_blocks,
        derive_simhash_block_bits,
        minhash_signatures,
        simhash_signatures,
    )
    from neo4j_database_to_data_importer_package_spark.partitioning import (
        drop_hot_keys,
    )
    from neo4j_database_to_data_importer_package_spark.sources.star_schema import (
        read_parquet_table,
    )

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', 32)}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    # Optional scale list on argv (round 11, VERDICT r10 directive #3:
    # one more octave at 64x/320k docs to test the saturated-width
    # extrapolation) — e.g. `python tools/text_lsh_occupancy_16x.py 64`
    # runs only the 64x row; default stays the documented (1, 4, 16).
    # Parsed and validated in _parse_scales before the JVM boots.
    tmp = tempfile.mkdtemp(prefix="ndip_text_occ_")
    try:
        for copies in scales:
            path = f"{tmp}/docs_{copies}x.parquet"
            n = build_spliced(path, copies)
            docs = spark.read.parquet(path)
            all_pairs = n * (n - 1) // 2

            mst = mh_wall = None
            if not skip_minhash:
                t0 = time.time()
                mh = minhash_signatures(docs)
                mst = occupancy_stats(mh, ("band", "signature"), 8192)
                mh_wall = time.time() - t0

            t0 = time.time()
            sig = simhash_signatures(docs).persist(StorageLevel.MEMORY_ONLY)
            sig.count()
            # r09 evidence geometry: the 16-bit floor (occupancy grows
            # linearly with the corpus — the finding that drove the
            # round-10 parameterization)
            blocks16 = _simhash_blocks(sig, bits=128, block_bits=16)
            sst = occupancy_stats(blocks16, ("q", "block"), 8192)
            # r10 production geometry: corpus-derived width (what
            # simhash_pairs actually runs at this scale)
            w = derive_simhash_block_bits(n)
            blocks_d = _simhash_blocks(sig, bits=128, block_bits=w)
            dst = occupancy_stats(blocks_d, ("q", "block"), 8192)
            sh_wall = time.time() - t0

            mh_line = (
                "  minhash bands : skipped (--skip-minhash)\n"
                if mst is None
                else (
                    f"  minhash bands : buckets={mst['buckets']} max={mst['mx']} "
                    f"p99={mst['p99']:.1f} mean={mst['mean']:.2f} "
                    f"cand_pairs={int(mst['cand_pairs'])} over_cap={mst['over_cap']} "
                    f"[{mh_wall:.1f}s]\n"
                )
            )
            print(
                f"{copies:>2}x ({n} docs, all-pairs {all_pairs:.3g}):\n"
                + mh_line +
                f"  simhash w=16  : buckets={sst['buckets']} max={sst['mx']} "
                f"p99={sst['p99']:.1f} mean={sst['mean']:.2f} "
                f"cand_pairs={int(sst['cand_pairs'])} "
                f"(selectivity {int(sst['cand_pairs']) / all_pairs:.2e}) "
                f"over_cap={sst['over_cap']}\n"
                f"  simhash w={w:>2}  : buckets={dst['buckets']} max={dst['mx']} "
                f"p99={dst['p99']:.1f} mean={dst['mean']:.2f} "
                f"cand_pairs={int(dst['cand_pairs'])} "
                f"(selectivity {int(dst['cand_pairs']) / all_pairs:.2e}) "
                f"over_cap={dst['over_cap']} [DERIVED] [{sh_wall:.1f}s]"
            )

            if copies == max(scales) and copies >= COPIES:
                # Exercise the drop path organically: cap below the
                # measured max of the DERIVED geometry, production path.
                small_cap = max(16, int(dst["mx"]) // 4)
                capped = drop_hot_keys(
                    blocks_d, ["q", "block"], small_cap, "probe_simhash"
                )
                cst = occupancy_stats(capped, ("q", "block"), small_cap)
                assert int(cst["mx"]) <= small_cap, (cst["mx"], small_cap)
                assert int(cst["cand_pairs"]) < int(dst["cand_pairs"])
                print(
                    f"  simhash capped@{small_cap}: max={cst['mx']} "
                    f"cand_pairs={int(cst['cand_pairs'])} "
                    f"({int(dst['cand_pairs']) - int(cst['cand_pairs'])} pairs "
                    f"removed by the logged drop — cap path LIVE on organic data)"
                )
            sig.unpersist()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
