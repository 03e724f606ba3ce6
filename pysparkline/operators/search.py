"""Full-text retrieval over a document corpus: inverted postings + BM25 top-k.

The reference's SearchQuerySpec (QueryDSL at src/main — dimension-value
substring search) covers *dimension* search; a training-data pipeline also
needs *content* retrieval — find the documents most relevant to a probe query
(e.g. pulling eval-adjacent documents, building targeted decontamination
lists, curating topical subsets). This is the Spark-first equivalent of a
Lucene/Druid search node:

- ``build_postings``: one explode + one map-side-combined groupBy produces the
  (term, doc_id, tf) postings relation plus per-doc lengths. At 100 TB the
  postings are written out partitioned/bucketed BY TERM, so a query's term
  lookups become partition-pruned scans; here they stay a DataFrame.
- ``bm25_topk``: query terms are a literal array (broadcast-class by
  construction); scoring is a semi-join of postings against the terms, one
  aggregation over matching docs, one ordered limit. No UDFs anywhere — the
  whole plan is JVM expressions inside whole-stage codegen.

Determinism contract (driver oracle): tokenization is lower + split on
``[^a-z0-9]+`` (identical across RE2/PCRE-class engines), scores are rounded
to 4 decimals BEFORE ranking, ties break on doc_id — so DuckDB computes the
bit-same ranking.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

TOKEN_SPLIT = "[^a-z0-9]+"


def _terms(text_col) -> "F.Column":
    return F.filter(
        F.split(F.lower(text_col), TOKEN_SPLIT), lambda t: t != ""
    )


def build_postings(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """(postings, doclens): postings = (term, doc_id, tf); doclens =
    (doc_id, dl). One shuffle each, both map-side combined."""
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(_terms(F.col(text_col))).alias("term")
    )
    postings = toks.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    doclens = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(_terms(F.col(text_col))).alias("dl"),
    )
    return postings, doclens


def bm25_topk(
    docs: DataFrame,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents by BM25 for a whitespace-ish query string.

    Returns (doc_id, score) with score rounded to 4 decimals and ranking on
    (rounded score DESC, doc_id ASC). Corpus stats (N, avgdl) come from one
    tiny aggregate; idf uses the standard
    ``ln(1 + (N - df + 0.5) / (df + 0.5))`` form (always positive).
    """
    q_terms = sorted(
        {t for t in __import__("re").split(TOKEN_SPLIT, query.lower()) if t}
    )
    if not q_terms:
        raise ValueError("query has no indexable terms")
    postings, doclens = build_postings(docs, id_col, text_col)

    # corpus constants: one 2-row-ish aggregate, collected once (driver-side
    # scalars keep the scoring expression literal — no cross join, no UDF)
    stats = doclens.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs = stats["n"]
    if n_docs == 0:  # empty corpus: empty (doc_id, score) result, no crash
        return docs.select(
            F.col(id_col).alias("doc_id"), F.lit(0.0).alias("score")
        ).limit(0)
    avgdl = float(stats["avgdl"])

    matched = postings.where(F.col("term").isin(q_terms)).join(
        doclens, "doc_id"
    )
    return _bm25_score(matched, n_docs, avgdl, k1, b, k)


def _bm25_score(
    matched: DataFrame,
    n_docs: int,
    avgdl: float,
    k1: float,
    b: float,
    k: int,
) -> DataFrame:
    """BM25 scoring over matched postings rows (term, doc_id, tf, dl) —
    the SINGLE implementation behind both the inline operator and
    TextIndex.search, so the rounded-ranking contract their shared DuckDB
    oracle twin pins cannot drift between copies."""
    # df per matched term (distinct docs): tiny — at most |query terms| rows
    dfreq = matched.groupBy("term").agg(
        F.countDistinct("doc_id").alias("dfreq")
    ).collect()
    idf = {
        r["term"]: math.log(
            1.0 + (n_docs - r["dfreq"] + 0.5) / (r["dfreq"] + 0.5)
        )
        for r in dfreq
    }
    if not idf:  # no query term occurs in the corpus
        return matched.select(
            F.col("doc_id"), F.lit(0.0).alias("score")
        ).limit(0)
    idf_col = F.element_at(
        F.create_map(
            *[x for t in idf for x in (F.lit(t), F.lit(idf[t]))]
        ),
        F.col("term"),
    )
    tf = F.col("tf").cast("double")
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / F.lit(avgdl)
    )
    contrib = idf_col * tf * F.lit(k1 + 1.0) / (tf + norm)
    scored = (
        matched.withColumn("contrib", contrib)
        .groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), 4).alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)


def bm25_topk_oracle_sql(
    table: str,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """The DuckDB twin of :func:`bm25_topk` (same tokenization, same rounded
    ranking) — the driver's semantic oracle."""
    q_terms = sorted(
        {t for t in __import__("re").split(TOKEN_SPLIT, query.lower()) if t}
    )
    terms_sql = ", ".join(f"'{t}'" for t in q_terms)
    return f"""
WITH toks AS (
  SELECT doc_id, t.term
  FROM {table},
       UNNEST(regexp_split_to_array(lower(text), '{TOKEN_SPLIT}')) AS t(term)
  WHERE t.term <> ''
),
-- doc lengths from the TABLE (not toks), so zero-token docs keep dl=0 rows
-- exactly like the Spark side's F.size over the split array
doclens AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT}'),
                         x -> x <> '')) AS dl
  FROM {table}
),
corpus AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM doclens),
postings AS (
  SELECT term, doc_id, count(*) AS tf FROM toks
  WHERE term IN ({terms_sql}) GROUP BY term, doc_id
),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS dfreq FROM postings GROUP BY term),
scored AS (
  SELECT p.doc_id,
         ROUND(SUM(
           ln(1.0 + (c.n - f.dfreq + 0.5) / (f.dfreq + 0.5))
           * (CAST(p.tf AS DOUBLE) * ({k1} + 1.0))
           / (CAST(p.tf AS DOUBLE)
              + {k1} * (1.0 - {b} + {b} * CAST(d.dl AS DOUBLE) / c.avgdl))
         ), 4) AS score
  FROM postings p
  JOIN doclens d ON p.doc_id = d.doc_id
  JOIN dfreq f ON p.term = f.term
  CROSS JOIN corpus c
  GROUP BY p.doc_id
)
SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT {k}
"""


def rrf_fuse(
    rankings: "list[DataFrame]",
    k: int = 10,
    k0: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    query_col: str | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of N ranked
    lists — the standard hybrid-retrieval combiner (BM25 lexical + dense
    cosine): ``rrf_score(d) = sum over lists of 1/(k0 + rank_d)``. Rank
    space only, so the lists' score scales never need calibrating.

    Each input needs (``id_col``, ``rank_col``) and, for multi-query
    fusion, ``query_col``. Returns (query?, id, rrf_score, n_lists, rank)
    — top-``k`` by (rrf_score DESC, id ASC), score rounded to 9 (a
    group sums <= N doubles; rounding absorbs the <= 1-ULP association
    noise so ranking is engine-reproducible).

    Scale: the input lists are ALREADY top-n-per-query (bounded: N*n
    rows per query), so the union + groupBy + per-query window all run
    over candidate-set-sized data — the expensive retrieval stays in
    the upstream operators."""
    from pyspark.sql import Window

    sel = ([query_col] if query_col else []) + [id_col, rank_col]
    fused = rankings[0].select(*sel)
    for r in rankings[1:]:
        fused = fused.unionByName(r.select(*sel))
    keys = ([query_col] if query_col else []) + [id_col]
    agg = fused.groupBy(*keys).agg(
        F.round(
            F.sum(F.lit(1.0) / (F.lit(int(k0)) + F.col(rank_col))), 9
        ).alias("rrf_score"),
        F.count(F.lit(1)).alias("n_lists"),
    )
    w = Window.partitionBy(*([query_col] if query_col else [])).orderBy(
        F.col("rrf_score").desc(), F.col(id_col).asc()
    )
    return agg.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


class TextIndex:
    """Persisted inverted index: the BM25 serving posture for a 100 TB corpus.

    ``bm25_topk`` rebuilds postings on every call — fine for one-shot jobs,
    wrong for serving. This builds ONCE: postings are written PARTITIONED BY
    a term-hash bucket (denormalized with the doc length, so scoring needs no
    join), and corpus constants (N, avgdl) go into a tiny JSON manifest. A
    search hashes its query terms into bucket ids (one local Spark job — the
    ids must match the writer's Murmur3 F.hash) and applies them as a LITERAL
    partition predicate: the scan statically prunes to the probed buckets'
    files, so search cost scales with |query terms| / n_buckets of the
    postings, not with the corpus. The IvfIndex pattern (similarity.py:327)
    applied to text.

    Same scoring contract as ``bm25_topk`` (shared tokenization, exact df
    from the term's complete bucket, 4dp-rounded ranking): given the same
    corpus and parameters the two return identical rows
    (tests/test_search_pack.py asserts it).
    """

    MANIFEST = "text_manifest.json"

    def __init__(self, spark, path: str, manifest: dict):
        from ..index import BatchLedger

        self.spark = spark
        self.path = path
        self.manifest = manifest
        self._ledger = BatchLedger(path, manifest, TextIndex.MANIFEST)

    @staticmethod
    def build(
        spark,
        docs: DataFrame,
        path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_buckets: int = 64,
    ) -> "TextIndex":
        import json
        import os

        postings, doclens = build_postings(docs, id_col, text_col)
        stats = doclens.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("dl").alias("total_dl"),
        ).collect()[0]
        denorm = postings.join(doclens, "doc_id").withColumn(
            "__bucket", F.pmod(F.hash(F.col("term")), F.lit(n_buckets))
        )
        denorm.write.mode("overwrite").partitionBy("__bucket").parquet(
            os.path.join(path, "postings")
        )
        n = int(stats["n"])
        total_dl = int(stats["total_dl"] or 0)
        manifest = {
            "nBuckets": n_buckets,
            "nDocs": n,
            # totalDl is the EXACT integer token count, so avgdl after any
            # append sequence equals a from-scratch build's bit-for-bit
            # (integer sums commute; one float division at the end)
            "totalDl": total_dl,
            "totalDlExact": True,
            "avgdl": (total_dl / n) if n else 0.0,
            "idCol": id_col,
            "textCol": text_col,
            "batches": [],
        }
        ti = TextIndex(spark, path, manifest)
        ti._ledger.write_manifest()
        return ti

    @staticmethod
    def load(spark, path: str) -> "TextIndex":
        import json
        import os

        with open(os.path.join(path, TextIndex.MANIFEST)) as fh:
            m = json.load(fh)
        # pre-append-era manifests: synthesize the incremental fields.
        # totalDl reconstructed from the stored float avgdl is APPROXIMATE
        # (rounded back to int) and MARKED so (totalDlExact=False): the
        # first append() recomputes the exact integer from the stored
        # postings before committing, so the bit-identical-to-full-rebuild
        # guarantee holds for legacy indexes too (ADVICE r7 #3).
        m.setdefault("batches", [])
        if "totalDl" not in m:
            m["totalDl"] = int(round(m["avgdl"] * m["nDocs"]))
            m["totalDlExact"] = False
        m.setdefault("totalDlExact", True)
        return TextIndex(spark, path, m)

    def _postings_paths(self) -> list[str]:
        import os

        return [
            os.path.join(self.path, "postings")
        ] + self._ledger.batch_paths("postings")

    def _read_postings_raw(self) -> DataFrame:
        """All committed postings rows (base + batches), unfiltered."""
        out = None
        for p in self._postings_paths():
            seg = self.spark.read.parquet(p).select(
                "term", "doc_id", "tf", "dl"
            )
            out = seg if out is None else out.unionByName(seg)
        return out

    def append(
        self, docs: DataFrame, id_col: str | None = None,
        text_col: str | None = None,
    ) -> str | None:
        """Incremental ingest (the index.BatchLedger committed-batch
        discipline): the new documents' postings land as a batch directory,
        and the corpus constants (nDocs, totalDl -> avgdl) update in the
        SAME atomic manifest rewrite — a crash mid-append leaves an orphan
        directory readers never see AND unchanged stats. Because totalDl
        is an exact integer, search() after any append sequence returns
        rows BIT-IDENTICAL to an index built from scratch on the combined
        corpus (test-asserted). New doc ids must be disjoint from already-
        indexed ones (segment semantics — a re-ingested id would carry two
        dl/tf rows and double-count). Zero-document appends are no-ops;
        appends whose documents carry NO tokens update the corpus
        constants (they count toward nDocs/avgdl) but commit no batch
        directory — a 0-row partitioned parquet write produces a
        file-less dir that poisons reads (the IvfIndex review
        precedent). Returns the committed batch name, or None when no
        batch directory was written."""
        import os

        idc = id_col or self.manifest["idCol"]
        txc = text_col or self.manifest["textCol"]
        nb = self.manifest["nBuckets"]
        if not self.manifest.get("totalDlExact", True):
            # legacy (pre-append) manifest: totalDl was reconstructed from
            # the stored FLOAT avgdl and may be off by a few tokens, which
            # would permanently bake an approximation into every later
            # avgdl and break the bit-identical-to-rebuild promise below
            # (ADVICE r7 #3). Recompute the exact integer ONCE from the
            # stored postings (distinct per-doc dl; token-free docs carry
            # dl=0 and contribute nothing, so their absence from the
            # postings is immaterial) — paid only on the first append.
            self.manifest["totalDl"] = int(
                self._read_postings_raw()
                .select("doc_id", "dl")
                .dropDuplicates(["doc_id"])
                .agg(F.sum("dl"))
                .collect()[0][0]
                or 0
            )
            self.manifest["totalDlExact"] = True
        postings, doclens = build_postings(docs, idc, txc)
        stats = doclens.agg(
            F.count(F.lit(1)).alias("n"), F.sum("dl").alias("total_dl")
        ).collect()[0]
        if not stats["n"]:
            return None
        n = self.manifest["nDocs"] + int(stats["n"])
        total_dl = self.manifest["totalDl"] + int(stats["total_dl"] or 0)
        extra = {
            "nDocs": n,
            "totalDl": total_dl,
            "totalDlExact": True,
            "avgdl": total_dl / n,
        }
        denorm = postings.join(doclens, "doc_id").withColumn(
            "__bucket", F.pmod(F.hash(F.col("term")), F.lit(nb))
        ).persist()

        def write_postings(bdir: str) -> None:
            denorm.write.partitionBy("__bucket").parquet(
                os.path.join(bdir, "postings")
            )

        try:
            # docs exist but none has a token (review r7b #1: the
            # empty-POSTINGS guard, not empty-docs — a 0-row partitioned
            # parquet write produces a file-less dir that poisons every
            # later read). Token-free docs still count toward nDocs/avgdl
            # (BM25 corpus stats), so the ledger commits the constants
            # alone, in ONE atomic manifest rewrite with no batch directory
            has_postings = denorm.limit(1).count() > 0
            return self._ledger.commit_batch(
                write_postings if has_postings else None, extra=extra
            )
        finally:
            denorm.unpersist(blocking=False)

    def compact(self) -> None:
        """Merge all appended batches into one (fewer files/scans per
        search); the base ``postings`` segment — usually the big one —
        is left untouched. Search results are bit-identical before and
        after (corpus constants don't change; postings rows are merely
        re-laid-out). Crashed-append orphans are swept."""
        import os

        ledger = self._ledger
        if not self.manifest["batches"]:
            from ..index import sweep_uncommitted_dirs

            sweep_uncommitted_dirs(ledger.batches_path, set())
            return

        def write_merged(kept, bdir):
            paths = [
                os.path.join(ledger.batches_path, b["name"], "postings")
                for b in kept
            ]
            merged = self.spark.read.option("basePath", paths[0]).parquet(
                paths[0]
            )
            for p in paths[1:]:
                merged = merged.unionByName(
                    self.spark.read.option("basePath", p).parquet(p)
                )
            merged.write.partitionBy("__bucket").parquet(
                os.path.join(bdir, "postings")
            )

        ledger.compact_batches(write_merged)

    def search(
        self, query: str, k: int = 10, k1: float = 1.2, b: float = 0.75
    ) -> DataFrame:
        import math
        import os
        import re

        q_terms = sorted({t for t in re.split(TOKEN_SPLIT, query.lower()) if t})
        if not q_terms:
            raise ValueError("query has no indexable terms")
        n_docs, avgdl = self.manifest["nDocs"], self.manifest["avgdl"]
        nb = self.manifest["nBuckets"]
        # bucket ids must equal the writer's Murmur3 — computed by Spark
        # itself over a tiny local frame (no reimplementation drift)
        trows = self.spark.createDataFrame(
            [(t,) for t in q_terms], "term string"
        ).select("term", F.pmod(F.hash("term"), F.lit(nb)).alias("bkt"))
        buckets = sorted({int(r["bkt"]) for r in trows.collect()})
        matched = None
        for p in self._postings_paths():
            # literal IN over the partition column => static pruning,
            # applied PER SEGMENT scan (base + each committed batch)
            seg = (
                self.spark.read.parquet(p)
                .where(F.col("__bucket").isin(buckets))
                .where(F.col("term").isin(q_terms))
                .select("term", "doc_id", "tf", "dl")
            )
            matched = seg if matched is None else matched.unionByName(seg)
        return _bm25_score(matched, n_docs, avgdl, k1, b, k)
