"""The RAG application the benchmark drives, built only from the engine's
public functions.

`Store` owns the persisted state of one corpus: the documents catalog,
the chunk table, the BM25 text index, the IVF+PQ index and the list of
deleted ids. `answer` is the engine's full question path; `refresh` is
the admin dashboard. Each engine call goes through `tr.call` (lazy
DataFrames) or `tr.run` (eager calls), which are plain calls when
tracing is off (spans.Off).
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.functions.embedding import embed_texts
from koby_s_ai_vector_db_spark.functions.partitioning import CHEAP_MAP_BYTES_PER_TASK, spread
from koby_s_ai_vector_db_spark.functions.vectors import l2_normalize
from koby_s_ai_vector_db_spark.operators.chunker import chunk_documents
from koby_s_ai_vector_db_spark.operators.fusion import combined_context, fusion_metadata
from koby_s_ai_vector_db_spark.operators.lexical import contribution_search_multi
from koby_s_ai_vector_db_spark.operators.similarity import topk_cosine
from koby_s_ai_vector_db_spark.pipelines.ingest import build_chunk_index
from koby_s_ai_vector_db_spark.sources import pq_index, text_index
from koby_s_ai_vector_db_spark.sources.tables import FEEDBACK_SQL

from checks import table_hash

# Chunking: the fixture-scale window of queries/chunker_q.py, so a
# 10-100 word document makes several chunks while a needle (under 100
# characters) stays one chunk.
CHUNK_SIZE, CHUNK_OVERLAP = 100, 20
CHUNK_ID_STRIDE = 1 << 16  # chunk_id = doc_id * stride + chunk_index
EXACT_K, EXACT_THRESHOLD = 5, 0.3  # the reference's search_similar_chunks
POOL = 10  # depth of the ANN and BM25 arms
RRF_K = 60  # queries/hybrid_q.py
CONTRIB_LIMIT = 5
N_PROBE, SHORTLIST = 2, 64  # ivfpq_index_search defaults

# Modules as the benchmark names them in per-layer metrics.
L_EMBED = "functions.embedding.embed_texts"
L_EMBED_CHUNKS = "functions.embedding.embed_texts.chunks"  # the ingest-side call
L_CHUNK = "operators.chunker.chunk_documents"
L_BUILD_CHUNKS = "pipelines.ingest.build_chunk_index"
L_EXACT = "operators.similarity.topk_cosine"
L_ANN = "sources.pq_index.ivfpq_index_search"
L_BM25 = "sources.text_index.search_text_index"
L_CONTRIB = "operators.lexical.contribution_search_multi"
L_META = "operators.fusion.fusion_metadata"
L_CONTEXT = "operators.fusion.combined_context"
L_RRF = "perfbench.rag.rrf"
L_TEXT_BUILD = "sources.text_index.build_text_index"
L_TEXT_APPEND = "sources.text_index.append_to_text_index"
L_TEXT_DELETE = "sources.text_index.delete_from_text_index"
L_PQ_BUILD = "sources.pq_index.build_ivfpq_index"
L_PQ_APPEND = "sources.pq_index.append_to_ivfpq_index"
L_PQ_DELETE = "sources.pq_index.delete_from_index"


class Store:
    """Paths of one corpus's persisted state under `root`."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.docs = os.path.join(root, "documents")
        self.chunks = os.path.join(root, "chunks")
        self.text = os.path.join(root, "text_index")
        self.pq = os.path.join(root, "pq_index")
        self.deleted = os.path.join(root, "deleted")

    def reset(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)

    def _live(self, df: DataFrame, id_col: str) -> DataFrame:
        if not os.path.isdir(self.deleted):
            return df
        gone = self.spark.read.parquet(self.deleted).withColumnRenamed("doc_id", id_col)
        return df.join(F.broadcast(gone), id_col, "left_anti")

    def chunk_table(self) -> DataFrame:
        return self._live(self.spark.read.parquet(self.chunks), "doc_id")

    def feedback(self) -> DataFrame:
        """The engine's documents-derived contributions table over the
        live documents."""
        self._live(self.spark.read.parquet(self.docs), "doc_id").createOrReplaceTempView(
            "documents"
        )
        return self.spark.sql(FEEDBACK_SQL)

    def counts(self) -> dict:
        """Layout counts read from the index directories. The text
        index's stats table gains one row per appended segment and one
        per delete correction."""

        def n_rows(path: str) -> int:
            if not os.path.isdir(path):
                return 0
            return sum(
                pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                for d, _, fs in os.walk(path)
                for f in fs
                if f.endswith(".parquet")
            )

        def n_files(path: str) -> int:
            return sum(
                f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs
            )

        return {
            "sources.text_index.segments": n_rows(os.path.join(self.text, "stats")),
            "sources.text_index.tombstone_rows": n_rows(os.path.join(self.text, "tombstones")),
            "sources.pq_index.tombstone_rows": n_rows(os.path.join(self.pq, "tombstones")),
            "sources.pq_index.data_files": n_files(os.path.join(self.pq, "data")),
        }


def chunk_rows(tr, docs: DataFrame) -> DataFrame:
    """build_chunk_index plus the ids and source the context needs.

    Traced, the chunker and the embed hop are materialized as two
    layers (chunk_documents, then embed_texts and the normalize over its
    rows) so each gets its own time, over the same spread input the
    pipeline chunks; untraced, the pipeline's own build_chunk_index runs
    as one lazy plan."""
    if tr.collecting:
        wide = spread(docs, bytes_per_task=CHEAP_MAP_BYTES_PER_TASK)
        chunks = tr.call(
            L_CHUNK,
            lambda: chunk_documents(wide, chunk_size=CHUNK_SIZE, overlap=CHUNK_OVERLAP),
            large=True,
        )
        idx = tr.call(
            L_EMBED_CHUNKS,
            lambda: chunks.withColumn("_e", embed_texts("text"))
            .withColumn("embedding", l2_normalize("_e"))
            .drop("_e"),
            large=True,
        )
    else:
        idx = build_chunk_index(docs, chunk_size=CHUNK_SIZE, overlap=CHUNK_OVERLAP)
    return idx.join(docs.select("doc_id", "source"), "doc_id").select(
        (F.col("doc_id") * CHUNK_ID_STRIDE + F.col("chunk_index")).alias("chunk_id"),
        "doc_id",
        "chunk_index",
        "source",
        "text",
        "char_count",
        "embedding",
    )


def ingest_docs(tr, store: Store, docs: DataFrame, mode: str) -> None:
    """Chunk, embed and persist a batch of documents."""
    tr.run(
        L_BUILD_CHUNKS,
        lambda: chunk_rows(tr, docs).write.mode(mode).parquet(store.chunks),
    )
    docs.write.mode(mode).parquet(store.docs)


def build(tr, store: Store, docs: DataFrame, vecs: DataFrame) -> dict:
    """Bulk ingest and both index builds over a fresh store."""
    store.reset()
    ingest_docs(tr, store, docs, "overwrite")
    t = tr.run(L_TEXT_BUILD, lambda: text_index.build_text_index(docs, store.text))
    p = tr.run(
        L_PQ_BUILD,
        lambda: pq_index.build_ivfpq_index(vecs, store.pq, list_col="label"),
    )
    return {"text": t, "pq": p}


def append(tr, store: Store, docs: DataFrame, vecs: DataFrame) -> dict:
    ingest_docs(tr, store, docs, "append")
    t = tr.run(L_TEXT_APPEND, lambda: text_index.append_to_text_index(docs, store.text))
    p = tr.run(L_PQ_APPEND, lambda: pq_index.append_to_ivfpq_index(vecs, store.pq))
    return {"text": t["n_appended"], "pq": p["n_appended"]}


def delete(tr, store: Store, ids: DataFrame) -> dict:
    """ids: (doc_id). Tombstones both indexes, then records the ids so
    the chunk table and the contributions skip them."""
    spark = store.spark
    t = tr.run(
        L_TEXT_DELETE, lambda: text_index.delete_from_text_index(spark, store.text, ids)
    )
    p = tr.run(
        L_PQ_DELETE,
        lambda: pq_index.delete_from_index(
            spark, store.pq, ids.withColumnRenamed("doc_id", "vec_id")
        ),
    )
    ids.write.mode("append").parquet(store.deleted)
    return {"text": t["n_deleted"], "pq": p["n_deleted"]}


def rrf(lex: DataFrame, vec: DataFrame) -> DataFrame:
    """Reciprocal Rank Fusion of the BM25 and ANN arms, as
    queries/hybrid_q.py fuses them, keeping every fused row (at most
    2 * POOL per question) so the checks see every id either arm
    returned."""
    fused = lex.join(vec, ["query_id", "id"], "outer").withColumn(
        "rrf",
        F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("r_lex")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("r_vec")), F.lit(0.0)),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc(F.round("rrf", 6)), F.asc("id"))
    return fused.select(
        "query_id",
        F.col("id").alias("doc_id"),
        F.round("rrf", 6).alias("rrf_score"),
        F.coalesce("r_lex", F.lit(0)).alias("lex_rank"),
        F.coalesce("r_vec", F.lit(0)).alias("vec_rank"),
        F.row_number().over(w).alias("rank"),
    )


def answer(tr, store: Store, questions: DataFrame, contrib_cap: int) -> dict:
    """The engine's full query path for a batch of questions
    (query_id, query_text, query_vec[64]). Returns the collected fused
    outputs: {"context": {qid: str}, "rrf": {qid: [(doc_id, rank,
    lex_rank, vec_rank)]}} plus, when tracing, each arm's rows."""
    spark = store.spark
    qtext = questions.select("query_id", "query_text")
    q16 = tr.call(
        L_EMBED,
        lambda: qtext.withColumn("query_vec", embed_texts("query_text")),
    )
    chunks = store.chunk_table()
    exact = tr.call(
        L_EXACT,
        lambda: topk_cosine(
            chunks.select("chunk_id", "embedding"),
            q16.select("query_id", "query_vec"),
            k=EXACT_K,
            threshold=EXACT_THRESHOLD,
            corpus_id="chunk_id",
            pre_normalized=True,
        ),
    )
    ann = tr.call(
        L_ANN,
        lambda: pq_index.ivfpq_index_search(
            spark,
            store.pq,
            questions.select("query_id", "query_vec"),
            k=POOL,
            n_probe=N_PROBE,
            shortlist=SHORTLIST,
        ),
    )
    bm25 = tr.call(
        L_BM25,
        lambda: text_index.search_text_index(spark, store.text, qtext, k=POOL),
    )
    contrib = tr.call(
        L_CONTRIB,
        lambda: contribution_search_multi(
            store.feedback(), qtext, limit=CONTRIB_LIMIT, candidate_cap=contrib_cap
        ),
    )
    vec_arm = exact.join(
        chunks.select("chunk_id", "source", "text"), "chunk_id"
    ).select(
        "query_id",
        F.col("chunk_id").alias("vec_id"),
        "sim",
        F.col("rank").alias("vrank"),
        "source",
        "text",
    )
    meta = tr.call(L_META, lambda: fusion_metadata(qtext, vec_arm, contrib))
    context = tr.call(L_CONTEXT, lambda: combined_context(vec_arm, contrib, meta))
    fused = tr.call(
        L_RRF,
        lambda: rrf(
            bm25.select("query_id", F.col("doc_id").alias("id"), F.col("rank").alias("r_lex")),
            ann.select("query_id", F.col("vec_id").alias("id"), F.col("rank").alias("r_vec")),
        ),
    )
    out = {
        "context": {r["query_id"]: r["combined_context"] for r in tr.rows(context)},
        "rrf": {},
    }
    for r in tr.rows(fused):
        out["rrf"].setdefault(r["query_id"], []).append(
            (r["doc_id"], r["rank"], r["lex_rank"], r["vec_rank"])
        )
    for rows in out["rrf"].values():
        rows.sort(key=lambda t: t[1])
    if tr.collecting:
        out["arms"] = {
            "exact": _ids_by_query(tr.rows(exact), "chunk_id", "rank"),
            "ann": _ids_by_query(tr.rows(ann), "vec_id", "rank"),
            "bm25": _ids_by_query(tr.rows(bm25), "doc_id", "rank"),
            "contrib": _ids_by_query(tr.rows(contrib), "id", "crank"),
        }
    return out


def _ids_by_query(rows, id_col: str, rank_col: str) -> dict:
    out: dict = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r[rank_col])):
        out.setdefault(r["query_id"], []).append(r[id_col])
    return out


# The admin dashboard: registered queries, refreshed read-only.
PANELS = (
    "a1_doc_summary",
    "a2_contribution_analytics",
    "a3_top_rated",
    "a4_recent_qa",
    "a5_sliding_live_users",
    "a6_session_stats",
    "a9_pending_count",
    "a10_recent_users",
    "a11_active_sessions",
    "q5_ilike_pagination",
    "q6_session_search",
    "rollup_events",
)


def panel_layer(fn) -> str:
    return f"{fn.__module__.removeprefix('koby_s_ai_vector_db_spark.')}.{fn.__name__}"


def refresh(tr, spark: SparkSession, sf_dir: str) -> dict:
    """Run every panel over sf_dir (documents.parquet, events.parquet);
    returns panel name -> order-insensitive hash of its rows."""
    from koby_s_ai_vector_db_spark import registry

    queries = registry.queries()
    out = {}
    for name in PANELS:
        fn = queries[name]
        df = tr.call(panel_layer(fn), lambda: fn(spark, sf_dir))
        out[name] = table_hash(df.columns, tr.rows(df))
    return out
