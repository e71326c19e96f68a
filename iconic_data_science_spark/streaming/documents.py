"""Streaming document curation: continuous-crawl dedup against a
persisted MinHash index.

The streaming twin of ``operators/dedup.minhash_lsh_incremental`` — the
shape a production crawl runs: the corpus-side band signatures and
shingle sets are a static (persisted, periodically-compacted) index;
each micro-batch of incoming documents computes its signatures
*map-side* (no explode, no shuffle — `minhash_band_sigs_from_arrays`),
stream-static joins the index on (band, band_sig) for candidates, and
verifies with an exact set-Jaccard computed per row from the two
shingle arrays (``array_intersect`` — both arrays are distinct sets).
No streaming aggregation anywhere except the final candidate
de-duplication, so the pipeline is watermark-free append mode.

Stream-equals-batch is the correctness contract
(tests/test_streaming.py::test_stream_dedup_equals_incremental_batch):
the streamed result must equal ``minhash_lsh_incremental`` on the same
split, jaccard values bit-for-bit (array_intersect size == the
explode-join intersection count on distinct sets).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import tiers
from ..operators.dedup import hashed_shingle_arrays, minhash_band_sigs_from_arrays


def read_document_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (tests/demos; a
    production crawl points the same pipeline at Kafka or autoloader)."""
    schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema
    return (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )


def stream_dedup_against_index(
    new_docs_stream: DataFrame,
    corpus: DataFrame | None = None,
    n: int = 3,
    num_perm: int = 16,
    rows_per_band: int = 4,
    threshold: float = 0.5,
    index: DataFrame | None = None,
) -> DataFrame:
    """(corpus_id, new_id, jaccard) append stream — incoming documents
    that near-duplicate the existing corpus.

    Pass EITHER ``corpus`` (raw documents — shingle arrays + band
    signatures are computed once here) OR ``index``: the persisted
    (doc_id, band, band_sig, shingles) layout that
    ``dedup.minhash_index_build`` bootstraps and
    ``dedup.minhash_index_upsert`` maintains (landing via
    ``lakehouse.write_snapshot``). The ``index`` form is the production
    steady state — the crawl loop pays the signature build once per
    index generation, not once per stream restart, so a benchmark of
    the probe measures throughput against a standing index, not
    index-build time. The stream side is entirely map-side until
    the stream-static candidate join; the verify touches only candidate
    rows and is a per-row array expression, so state is bounded to the
    candidate-pair ``dropDuplicates`` set (no watermark needed for a
    finite backfill; a production deployment bounds it by keying state
    on a crawl-batch column).
    """
    if (corpus is None) == (index is None):
        raise ValueError("pass exactly one of corpus= or index=")
    if index is not None:
        # Persisted-index layout: band rows repeat the shingle array, so
        # the doc-grain array table is a doc_id-dedup away. Both frames
        # checkpoint — every micro-batch re-executes the static side's
        # lazy plan otherwise.
        csigs = (
            index.select(F.col("doc_id").alias("corpus_id"), "band", "band_sig")
            .localCheckpoint()
        )
        carr = (
            index.select(
                F.col("doc_id").alias("corpus_id"),
                F.col("shingles").alias("corpus_shingles"),
            )
            .dropDuplicates(["corpus_id"])
            .localCheckpoint()
        )
    else:
        # The WHOLE corpus index materializes at build time — band sigs
        # and shingle arrays, not just the intermediate ca: every
        # micro-batch re-executes the static side's lazy plan, so an
        # un-checkpointed csigs recomputes all num_perm corpus
        # permutations per batch (measured: ~1.5 s of the ~2.2 s batch
        # at sf0.1 was corpus-side recompute; with the index
        # checkpointed the batch spends its time on stream-side work
        # only). In production these two frames ARE the persisted index
        # table that write_snapshot maintains.
        ca = hashed_shingle_arrays(corpus, n=n).localCheckpoint()
        csigs = (
            minhash_band_sigs_from_arrays(
                ca, num_perm=num_perm, rows_per_band=rows_per_band
            )
            .select(F.col("doc_id").alias("corpus_id"), "band", "band_sig")
            .localCheckpoint()
        )
        carr = ca.select(
            F.col("doc_id").alias("corpus_id"),
            F.col("shingles").alias("corpus_shingles"),
        ).localCheckpoint()
    # Size-gated IN-ROW index probe: the
    # join+dropDuplicates form pays a streaming STATE STORE for the
    # cross-band candidate dedup — measured as ~2/3 of each micro-batch
    # (3.3 s vs 1.2 s stateless at sf0.1) even though a new_id's
    # duplicates can only ever come from its own row's bands. Under the
    # gate, the bucket index collapses to ONE broadcast row mapping
    # 'band:sig' → corpus ids (the bloom_decontaminate_inrow shape):
    # each stream row probes the map for its ≤ n_bands keys, flattens,
    # and array_distinct's its candidates entirely IN-ROW — zero
    # shuffles, zero state, pure append. The whole index then sits in
    # one driver-built row, so the gate is the driver-local budget
    # (tiers.solve_locally); above it, or for an empty index, the
    # pipeline falls back to the shuffled join + stateful dedup
    # unchanged. csigs is counted, not guessed: it is already
    # checkpointed, so the count is a cached-partition scan, paid once
    # at pipeline build.
    inter = F.size(F.array_intersect("shingles", "corpus_shingles"))
    union = F.size("shingles") + F.size("corpus_shingles") - inter
    if tiers.solve_locally(csigs.count()):
        from ..operators.dedup import minhash_band_sig_array

        n_bands = num_perm // rows_per_band
        na = hashed_shingle_arrays(new_docs_stream, n=n).withColumn(
            # NAMED column: the 16-permutation signature expression must
            # evaluate once per row, not once per band reference (the
            # lambda/no-CSE pitfall, SCALE.md)
            "_sigs",
            minhash_band_sig_array(num_perm=num_perm, rows_per_band=rows_per_band),
        )
        # one broadcast hash join per band, each on a SCALAR key: O(1)
        # hashmap probes (a single-row map column would linear-scan its
        # entries per lookup — measured 3x SLOWER than the stateful
        # form), no explode, and — because each join contributes one
        # array column rather than rows — no cross-band duplicate pairs
        # to dedup, hence no streaming state. All four joins probe the
        # SAME 'band:sig'-keyed bucket frame, so Catalyst reuses one
        # broadcast exchange per micro-batch instead of building four.
        bucket = (
            csigs.select(
                F.concat(
                    F.col("band").cast("string"), F.lit(":"), F.col("band_sig")
                ).alias("_bk"),
                "corpus_id",
            )
            .groupBy("_bk")
            .agg(F.collect_list("corpus_id").alias("_bids"))
            .localCheckpoint()
        )
        for band in range(n_bands):
            b_ren = bucket.withColumnRenamed("_bk", f"_k{band}").withColumnRenamed(
                "_bids", f"_ids{band}"
            )
            na = na.withColumn(
                f"_k{band}",
                F.concat(
                    F.lit(str(band)), F.lit(":"), F.element_at("_sigs", band + 1)
                ),
            ).join(F.broadcast(b_ren), f"_k{band}", "left")
        cands = F.array_distinct(
            F.flatten(
                F.filter(
                    F.array(*[F.col(f"_ids{b}") for b in range(n_bands)]),
                    lambda ids: ids.isNotNull(),
                )
            )
        )
        probed = na.select(
            F.col("doc_id").alias("new_id"),
            "shingles",
            F.explode(cands).alias("corpus_id"),
        )
        return (
            probed.join(F.broadcast(carr), "corpus_id")
            .select("corpus_id", "new_id", (inter / union).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
        )
    na = hashed_shingle_arrays(new_docs_stream, n=n)
    nsigs = minhash_band_sigs_from_arrays(
        na, num_perm=num_perm, rows_per_band=rows_per_band, keep_shingles=True
    ).select(F.col("doc_id").alias("new_id"), "shingles", "band", "band_sig")
    cand = (
        nsigs.join(csigs, ["band", "band_sig"])
        .select("corpus_id", "new_id", "shingles")
        .dropDuplicates(["corpus_id", "new_id"])
    )
    return (
        cand.join(carr, "corpus_id")
        .select("corpus_id", "new_id", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def read_embedding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the embeddings parquet (tests/demos; a
    production embedder points the same pipeline at its output topic).
    The quantize-at-ingest gates (sq8_codes / sq8_codes_frozen with
    frozen literal bounds) run unchanged on this stream — pure maps."""
    schema = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).schema
    return (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .load(sf_dir)
    )
