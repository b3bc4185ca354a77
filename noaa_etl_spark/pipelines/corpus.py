"""Corpus-prep pipeline: the LLM-data operators composed into the one
job a training-data team actually runs — scrub → quality gate →
repetition filter → chunk → chunk-level dedup → embed → ANN neighbor
index — with every stage the graded operator it corresponds to
(queries/text.py, queries/multimodal.py, operators/similarity.py).

Scale posture per stage (the composition inherits each operator's
documented plan):

- scrub + quality gate: expression-only, zero shuffles (the gate filter
  reuses queries/text.quality_rules as a scan-local predicate — no
  join-back of the per-doc gate);
- repetition filter: per-(doc, term) combiner counts + a doc_id
  left-semi join of survivors (both sides doc_id-partitioned);
- chunking: narrow-only sequence-explode (zero shuffles);
- chunk dedup: groupBy on 16-byte signatures (never chunk text);
- embed: Arrow-batched pandas_udf (the stub stands in for a real
  encoder with identical plumbing);
- ANN: IVF index — broadcast centroids, probe-bounded candidate join.

Outputs under ``out_path``: clean_docs/, chunks/, embeddings/,
neighbors/ (parquet each). Returns a stats dict so callers (and the
end-to-end test) can assert the funnel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from noaa_etl_spark.functions.text import tokenize
from noaa_etl_spark.io import load_table
from noaa_etl_spark.queries.text import chunk_windows, pii_scrub


def scrub_text(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails/phones/IPv4 in place (the q_pii_scrub patterns,
    applied to the real text column — no counting, just the scrub)."""
    return docs.withColumn(text_col, pii_scrub(F.col(text_col)))


def chunk_with_text(
    docs: DataFrame, chunk_size: int = 64, stride: int = 48
) -> DataFrame:
    """The q_chunk_documents windows, carrying the chunk text (the
    graded query emits only signatures; the pipeline needs the text to
    feed the encoder)."""
    return chunk_windows(docs, chunk_size, stride).drop("n_chunk_tokens")


def run_corpus_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    min_tokens: int = 5,
    chunk_size: int = 64,
    stride: int = 48,
    k_neighbors: int = 3,
    n_queries: int = 50,
) -> dict:
    """End-to-end corpus prep over the fixture documents table."""
    from noaa_etl_spark.operators.similarity import ann_index
    from noaa_etl_spark.queries.multimodal import _hashed_bow_embed

    from noaa_etl_spark.queries.text import quality_keep, repetition_report

    docs = load_table(spark, sf_dir, "documents")
    n_raw = docs.count()

    scrubbed = scrub_text(docs).filter(
        F.size(tokenize(F.col("text"))) >= min_tokens
    )
    gated = scrubbed.filter(quality_keep("text"))
    n_gated = gated.count()
    survivors = repetition_report(gated).filter(F.col("keep")).select("doc_id")
    clean = gated.join(survivors, "doc_id", "left_semi")
    clean.write.mode("overwrite").parquet(f"{out_path}/clean_docs")
    clean = spark.read.parquet(f"{out_path}/clean_docs")
    n_clean = clean.count()

    chunks = chunk_with_text(clean, chunk_size, stride)
    # Chunk-level dedup: survivor = first (doc_id, chunk_idx) per sig.
    kept = (
        chunks.groupBy("chunk_sig")
        .agg(
            F.min(F.struct("doc_id", "chunk_idx", "chunk_text")).alias("first"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            F.col("first.doc_id").alias("doc_id"),
            F.col("first.chunk_idx").alias("chunk_idx"),
            F.col("first.chunk_text").alias("chunk_text"),
            "chunk_sig",
            "n_copies",
        )
    )
    kept.write.mode("overwrite").parquet(f"{out_path}/chunks")
    kept = spark.read.parquet(f"{out_path}/chunks")
    # n_copies counts every chunk of its signature, so the kept rows'
    # sum is the pre-dedup chunk count; reading both off the written
    # chunks spares a second tokenize + explode over ``clean``.
    n_chunks, n_chunks_raw = kept.agg(
        F.count(F.lit(1)), F.coalesce(F.sum("n_copies"), F.lit(0))
    ).first()

    emb = kept.select(
        F.xxhash64("chunk_sig").alias("vec_id"),
        "doc_id",
        "chunk_idx",
        _hashed_bow_embed(F.col("chunk_text")).alias("embedding"),
    )
    emb.write.mode("overwrite").parquet(f"{out_path}/embeddings")
    emb = spark.read.parquet(f"{out_path}/embeddings")

    queries = emb.orderBy("doc_id", "chunk_idx").limit(n_queries)
    neighbors = ann_index(
        queries.select("vec_id", "embedding"),
        emb.select("vec_id", "embedding"),
        k=k_neighbors,
        index="ivf",
        n_cells=8,
        n_probe=3,
    )
    neighbors.write.mode("overwrite").parquet(f"{out_path}/neighbors")
    n_neighbors = spark.read.parquet(f"{out_path}/neighbors").count()

    return {
        "n_raw_docs": n_raw,
        "n_gated_docs": n_gated,
        "n_clean_docs": n_clean,
        "n_chunks_raw": n_chunks_raw,
        "n_chunks_kept": n_chunks,
        "n_neighbor_rows": n_neighbors,
    }


def _main() -> None:  # pragma: no cover - thin CLI wrapper
    import argparse
    import json

    from noaa_etl_spark.session import get_spark

    ap = argparse.ArgumentParser(
        description="Corpus prep: scrub -> gate -> chunk -> dedup -> embed -> ANN"
    )
    ap.add_argument("sf_dir", help="fixture dir containing documents.parquet")
    ap.add_argument("out_path", help="output directory")
    ap.add_argument("--chunk-size", type=int, default=64)
    ap.add_argument("--stride", type=int, default=48)
    ap.add_argument("--k", type=int, default=3)
    args = ap.parse_args()
    spark = get_spark("corpus-prep")
    stats = run_corpus_pipeline(
        spark,
        args.sf_dir,
        args.out_path,
        chunk_size=args.chunk_size,
        stride=args.stride,
        k_neighbors=args.k,
    )
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":  # pragma: no cover
    _main()
