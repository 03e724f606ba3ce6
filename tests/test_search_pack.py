"""BM25 retrieval + sequence packing vs the DuckDB oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pysparkline.operators import search, text

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_bm25_matches_duckdb(spark, docs, duck):
    q = "data quality model training"
    got = [
        (r["doc_id"], float(r["score"]))
        for r in search.bm25_topk(docs, q, k=10).collect()
    ]
    want = [
        (d, float(s))
        for d, s in duck.execute(
            search.bm25_topk_oracle_sql("documents", q, k=10)
        ).fetchall()
    ]
    assert len(got) == 10
    assert got == want


def test_bm25_scores_positive_and_ranked(spark, docs):
    rows = search.bm25_topk(docs, "the language", k=5).collect()
    scores = [r["score"] for r in rows]
    assert all(s > 0 for s in scores)
    assert scores == sorted(scores, reverse=True)


def test_bm25_rejects_empty_query(docs):
    with pytest.raises(ValueError):
        search.bm25_topk(docs, "!!! ...")


def test_bm25_plan_is_jvm_only(docs):
    plan = search.bm25_topk(docs, "training data")._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pack_sequences_matches_duckdb(spark, docs, duck):
    budget = 512
    got = sorted(
        map(tuple, text.pack_sequences(docs, budget).collect())
    )
    want = sorted(
        map(
            tuple,
            duck.execute(f"""
WITH t AS (
  SELECT source, doc_id,
         len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_tokens,
         sum(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')))
           OVER (PARTITION BY source ORDER BY doc_id) AS cum
  FROM documents)
SELECT source, doc_id, n_tokens,
       cum - n_tokens AS start_offset,
       CAST(floor((cum - n_tokens) / {budget}.0) AS BIGINT) AS pack_id,
       CASE WHEN n_tokens = 0 THEN 0
            ELSE CAST(floor((cum - 1) / {budget}.0)
                      - floor((cum - n_tokens) / {budget}.0) + 1 AS BIGINT)
       END AS packs_spanned
FROM t""").fetchall(),
        )
    )
    assert got == want
    # invariant: within a source, offsets are a prefix-sum partition
    by_src = {}
    for src, did, n, off, pid, spans in got:
        by_src.setdefault(src, []).append((did, n, off))
    for src, rows in by_src.items():
        rows.sort()
        acc = 0
        for did, n, off in rows:
            assert off == acc
            acc += n


def test_pack_sequences_auto_shard_exact(spark, docs):
    """A dominant source must not serialize into one reducer: oversized
    sources are split into id-range shards with a local window each, and
    the composed offsets are BIT-IDENTICAL to the single-window form —
    including duplicate-id tie semantics (VERDICT r4 #2)."""
    # one giant source (plus a small one) with duplicate ids sprinkled in
    rows = [("giant", i // 3 if i % 7 == 0 else i, f"tok {'w ' * (i % 9)}")
            for i in range(5000)]
    rows += [("tiny", i, "a b c") for i in range(20)]
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")

    plain = sorted(map(tuple, text.pack_sequences(df, 128).collect()))
    sharded = sorted(
        map(
            tuple,
            text.pack_sequences(df, 128, rows_per_shard=500).collect(),
        )
    )
    assert plain == sharded

    # the sharded path genuinely splits: >1 shard for the giant source
    out = df.select("source", "doc_id",
                    text.token_count(F.col("text")).cast("long")
                    .alias("n_tokens"))
    bounds = text._pack_shard_bounds(out, "doc_id", "source", 500)
    assert bounds is not None
    cuts = {r["source"]: r["__cuts"] for r in bounds.collect()}
    assert "tiny" not in cuts and len(cuts["giant"]) >= 1

    # below threshold: no sharding machinery engaged
    assert text._pack_shard_bounds(out, "doc_id", "source", 10**9) is None


def test_pack_sequences_auto_shard_null_source(spark):
    """A NULL-valued source is a real stream: when the sharded path engages
    it must neither drop those rows (a name-list equality join would) nor
    mis-offset them — and a giant NULL source itself shards (null-safe
    joins throughout)."""
    rows = [(None if i % 2 == 0 else "s", i, "a b c d") for i in range(2000)]
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")
    plain = sorted(
        map(tuple, text.pack_sequences(df, 64).collect()),
        key=repr,
    )
    sharded = sorted(
        map(tuple, text.pack_sequences(df, 64, rows_per_shard=300).collect()),
        key=repr,
    )
    assert len(sharded) == 2000 and plain == sharded
    # the NULL stream got cut points too
    out = df.select("source", "doc_id",
                    text.token_count(F.col("text")).cast("long")
                    .alias("n_tokens"))
    bounds = text._pack_shard_bounds(out, "doc_id", "source", 300)
    cuts = {r["source"]: r["__cuts"] for r in bounds.collect()}
    assert None in cuts and len(cuts[None]) >= 1


def test_pack_sequences_string_ids_fall_back_unsharded(spark):
    """percentile_approx rejects string columns, so a corpus with string
    doc ids and one dominant source must take the single-window plan (which
    sorts strings fine) instead of failing with an AnalysisException in the
    sharded path (ADVICE r5)."""
    rows = [("giant", f"doc-{i:05d}", "a b c") for i in range(1200)]
    df = spark.createDataFrame(
        rows, "source string, doc_id string, text string"
    )
    out = df.select("source", "doc_id",
                    text.token_count(F.col("text")).cast("long")
                    .alias("n_tokens"))
    # non-numeric id: the shard-bounds probe declines without touching Spark
    assert text._pack_shard_bounds(out, "doc_id", "source", 300) is None
    got = text.pack_sequences(df, 64, rows_per_shard=300).collect()
    assert len(got) == 1200
    offs = {r["doc_id"]: r["start_offset"] for r in got}
    # string order == generation order here; 3 tokens per doc
    assert offs["doc-00000"] == 0 and offs["doc-00007"] == 21


def test_pack_sequences_spans(spark):
    df = spark.createDataFrame(
        [("s", 1, "a " * 10), ("s", 2, "b " * 95), ("s", 3, "")],
        "source string, doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.pack_sequences(df, 100).collect()}
    assert rows[1]["pack_id"] == 0 and rows[1]["packs_spanned"] == 1
    # doc 2: tokens 10..104 -> starts pack 0, ends pack 1 -> spans 2
    assert rows[2]["start_offset"] == 10 and rows[2]["packs_spanned"] == 2
    assert rows[3]["n_tokens"] == 0 and rows[3]["packs_spanned"] == 0


# --------------------------------------------------- hash split / overlap


def test_hash_split_content_keyed(spark):
    from pysparkline.operators import sampling

    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other words entirely")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["split"] for r in sampling.hash_split(df).collect()}
    # identical content -> identical split, independent of id
    assert rows[1] == rows[2]
    with pytest.raises(ValueError):
        sampling.hash_split(df, weights={"a": 0.0})


def test_hash_split_salt_changes_assignment(spark):
    from pysparkline.operators import sampling

    df = spark.createDataFrame(
        [(i, f"document number {i} body") for i in range(200)],
        "doc_id long, text string",
    )
    base = {r["doc_id"]: r["split"] for r in sampling.hash_split(df).collect()}
    salted = {
        r["doc_id"]: r["split"]
        for r in sampling.hash_split(df, salt="v2").collect()
    }
    assert base != salted  # salt re-rolls at least one assignment
    # and the weights are roughly honored
    from collections import Counter

    c = Counter(base.values())
    assert c["train"] > 150


def test_source_overlap_exact_counts(spark):
    from pysparkline.operators import clean

    df = spark.createDataFrame(
        [
            ("s1", 1, "abcdefgh"),   # shingles: abcde bcdef cdefg defgh
            ("s2", 2, "abcdef"),     # shingles: abcde bcdef
            ("s2", 3, "zzzzzz"),     # shingle: zzzzz (x2 -> distinct 1)
        ],
        "source string, doc_id long, text string",
    )
    rows = clean.source_overlap(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["group_a"], r["group_b"]) == ("s1", "s2")
    assert r["shared_shingles"] == 2      # abcde, bcdef
    assert r["total_a"] == 4 and r["total_b"] == 3


# ----------------------------------------------------------- persisted index


def test_text_index_matches_inline_bm25(spark, docs, tmp_path):
    from pysparkline.operators.search import TextIndex

    ti = TextIndex.build(spark, docs, str(tmp_path / "tix"), n_buckets=16)
    q = "data quality model training"
    got = [(r["doc_id"], r["score"]) for r in ti.search(q, k=10).collect()]
    want = [
        (r["doc_id"], r["score"])
        for r in search.bm25_topk(docs, q, k=10).collect()
    ]
    assert got == want

    # reload from disk: same results
    ti2 = TextIndex.load(spark, str(tmp_path / "tix"))
    assert [
        (r["doc_id"], r["score"]) for r in ti2.search(q, k=10).collect()
    ] == want

    # nonsense terms: empty result, no crash
    assert ti.search("qqqqxyzzy").collect() == []


def test_text_index_prunes_buckets(spark, docs, tmp_path):
    """The probed-bucket predicate must reach the scan as PartitionFilters —
    the serving-cost contract (scan scales with |query terms|/n_buckets)."""
    from pysparkline.operators.search import TextIndex

    ti = TextIndex.build(spark, docs, str(tmp_path / "tix2"), n_buckets=16)
    plan = (
        ti.search("training data")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "__bucket" in plan


def test_write_training_shards_roundtrip(spark, tmp_path):
    """Shard materialization: read-back equals input, shard dirs match the
    manifest, and the manifest is identical across partition layouts
    (content-keyed assignment + order-independent checksums)."""
    import json

    from pysparkline.operators import sampling

    docs = spark.createDataFrame(
        [(i, f"document number {i} " * (3 + i % 5)) for i in range(200)],
        "doc_id long, text string",
    )
    p1 = str(tmp_path / "shards1")
    m1 = sampling.write_training_shards(docs, p1, n_shards=8)
    assert sum(s["rows"] for s in m1["shards"].values()) == 200
    back = spark.read.parquet(p1)
    assert back.count() == 200
    assert sorted(r.doc_id for r in back.collect()) == list(range(200))
    # every shard dir row-count matches its manifest entry
    for k, s in m1["shards"].items():
        assert back.where(f"shard = {k}").count() == s["rows"]
    with open(p1 + "/_shards.json") as fh:
        assert json.load(fh)["nShards"] == 8

    # a different input layout yields a byte-identical manifest
    m2 = sampling.write_training_shards(
        docs.repartition(13).sortWithinPartitions("text"),
        str(tmp_path / "shards2"), n_shards=8,
    )
    assert m1["shards"] == m2["shards"]

    # shard membership is content-keyed: appending new docs never moves old
    m3 = sampling.write_training_shards(
        docs.unionByName(
            spark.createDataFrame(
                [(1000 + i, f"fresh doc {i}") for i in range(50)],
                "doc_id long, text string",
            )
        ),
        str(tmp_path / "shards3"), n_shards=8,
    )
    for k, s in m1["shards"].items():
        assert m3["shards"][k]["rows"] >= s["rows"]


def test_temperature_mix_rates_math():
    from pysparkline.operators import sampling

    counts = {"big": 9000, "small": 1000}
    # tau=1: natural proportions -> every source keeps everything
    r1 = sampling.temperature_mix_rates(counts, 1.0)
    assert r1 == {"big": 1.0, "small": 1.0}
    # tau=0: uniform target -> the big source downsamples toward the small
    r0 = sampling.temperature_mix_rates(counts, 0.0)
    assert r0["small"] == 1.0
    assert abs(r0["big"] - 5000 / 9000) < 1e-12
    # target_rows scales the mix
    rt = sampling.temperature_mix_rates(counts, 1.0, target_rows=5000)
    assert abs(rt["big"] - 0.5) < 1e-12 and abs(rt["small"] - 0.5) < 1e-12
    # zero-count source contributes nothing and never divides by zero
    rz = sampling.temperature_mix_rates({"a": 0, "b": 10}, 0.5)
    assert rz["a"] == 0.0 and rz["b"] == 1.0


def test_temperature_mix_deterministic_and_balanced(spark):
    """The mix is content-keyed (identical across partition layouts) and
    the realized per-source sizes track the temperature rates."""
    from pysparkline.operators import sampling

    rows = [(i, f"doc {i} body {'x' * (i % 7)}",
             "big" if i < 9000 else "small") for i in range(10_000)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")

    out = sampling.temperature_mix(df, "source", tau=0.0)
    got = {r["source"]: r["n"] for r in
           out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got["small"] == 1000
    # md5-bucket Bernoulli at rate 5000/9000: binomial 6-sigma band
    import math
    rate = 5000 / 9000
    sd = math.sqrt(9000 * rate * (1 - rate))
    assert abs(got["big"] - 9000 * rate) < 6 * sd

    out2 = sampling.temperature_mix(
        df.repartition(17).sortWithinPartitions("text"), "source", tau=0.0
    )
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in out2.collect()
    )


def test_temperature_mix_null_source_and_empty(spark):
    """NULL-valued sources are a real bucket (null-safe join key), not a
    crash or a silent drop; an empty corpus returns empty (ADVICE r4)."""
    from pysparkline.operators import sampling

    rows = [
        (i, f"doc {i} words", "a" if i % 3 == 0 else None)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = sampling.temperature_mix(df, "source", tau=1.0)
    got = {
        r["source"]: r["n"]
        for r in out.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # tau=1 keeps natural proportions: every row of both buckets survives
    assert got == {"a": 100, None: 200}

    empty = df.where(F.lit(False))
    assert sampling.temperature_mix(empty, "source", tau=0.5).count() == 0


def test_temperature_mix_many_sources_analysis_bounded(spark):
    """A per-domain mix (thousands of sources) must not build a per-source
    OR-chain predicate — Catalyst analysis blows up on 10⁴ disjuncts (the
    IVF-cells / LSH-buckets literal-explosion lesson). The broadcast-join
    formulation keeps plan build + analysis bounded."""
    import time

    from pysparkline.operators import sampling

    n_src = 10_000
    df = (
        spark.range(n_src)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("text of doc "), F.col("id")).alias("text"),
            F.concat(F.lit("domain-"), F.col("id")).alias("source"),
        )
    )
    t0 = time.monotonic()
    out = sampling.temperature_mix(df, "source", tau=0.5)
    _ = out.schema  # force analysis
    wall = time.monotonic() - t0
    assert wall < 60, f"plan build+analysis took {wall:.1f}s for 10k sources"
    # every source has exactly 1 row -> tau keeps everything
    assert out.count() == n_src


# ---------------------------------------------------------------------------
# length-bucketed batching
# ---------------------------------------------------------------------------


def test_length_batches_match_duckdb(spark, duck):
    from pysparkline.operators import text as T

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = {
        r.doc_id: (r.n_tokens, r.bucket, r.batch_idx, r.pos_in_batch)
        for r in T.length_bucketed_batches(docs, batch_size=8).collect()
    }
    want = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in duck.execute(r"""
          WITH q AS (
            SELECT doc_id,
                   CAST(len(list_filter(string_split_regex(text, '\s+'),
                                        x -> x <> '')) AS BIGINT) AS n_tokens
            FROM documents
          ), b AS (
            SELECT *, CAST(floor(log2(greatest(n_tokens, 1))) AS INT)
                        AS bucket FROM q
          ), r AS (
            SELECT *, row_number() OVER (PARTITION BY bucket
                        ORDER BY n_tokens, doc_id) AS rn FROM b
          )
          SELECT doc_id, n_tokens, bucket,
                 CAST(floor((rn - 1) / 8) AS BIGINT),
                 CAST((rn - 1) % 8 AS INT)
          FROM r
        """).fetchall()
    }
    assert got == want and got


def test_length_batches_shard_invariant(spark):
    """Forcing the shard path (tiny rows_per_shard) must not change any
    assignment: count-prefix rank composition is exact, ties co-located."""
    from pysparkline.operators import text as T

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = {
        (r.doc_id, r.bucket, r.batch_idx, r.pos_in_batch)
        for r in T.length_bucketed_batches(docs, 8).collect()
    }
    b = {
        (r.doc_id, r.bucket, r.batch_idx, r.pos_in_batch)
        for r in T.length_bucketed_batches(
            docs, 8, rows_per_shard=13
        ).collect()
    }
    assert a == b


def test_length_batches_padding_beats_id_order(spark):
    """The point of bucketing: padding-to-max within batches is lower than
    batching in plain id order."""
    from pyspark.sql import functions as F

    from pysparkline.operators import text as T

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bucketed = T.batch_padding_stats(
        T.length_bucketed_batches(docs, 8)
    ).agg(
        (1.0 - F.sum("sum_len") / F.sum(F.col("max_len") * F.col("n_docs")))
        .alias("pad")
    ).first()["pad"]

    idorder = (
        docs.select(
            "doc_id", T.token_count(F.col("text")).cast("long").alias("n_tokens")
        )
        .withColumn(
            "batch_idx",
            F.floor(
                (F.row_number().over(
                    __import__("pyspark").sql.Window.orderBy("doc_id")
                ) - 1) / 8
            ),
        )
        .groupBy("batch_idx")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_tokens").alias("max_len"),
            F.sum("n_tokens").alias("sum_len"),
        )
        .agg(
            (1.0 - F.sum("sum_len") / F.sum(F.col("max_len") * F.col("n_docs")))
            .alias("pad")
        )
        .first()["pad"]
    )
    assert bucketed < idorder


def test_top_k_per_group_exact_and_layout_invariant(spark, duck):
    from pysparkline.operators import sampling

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "source"
    )
    got = sorted(
        (r.source, r.doc_id)
        for r in sampling.top_k_per_group(docs, "source", 7).collect()
    )
    want = sorted(duck.execute(r"""
      SELECT source, doc_id FROM (
        SELECT source, doc_id,
               row_number() OVER (PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR) || ':' || '42'),
                          doc_id) AS rk
        FROM documents)
      WHERE rk <= 7
    """).fetchall())
    assert got == want and got
    # per-group counts are exactly min(k, group size)
    sizes = {r[0]: r[1] for r in duck.execute(
        "SELECT source, count(*) FROM documents GROUP BY source").fetchall()}
    from collections import Counter
    cnt = Counter(s for s, _ in got)
    for src, n in sizes.items():
        assert cnt[src] == min(7, n)
    # content-keyed: a different partition layout picks identical rows
    got2 = sorted(
        (r.source, r.doc_id)
        for r in sampling.top_k_per_group(
            docs.repartition(23), "source", 7).collect()
    )
    assert got2 == got


def test_top_k_per_group_null_ids_excluded(spark):
    from pysparkline.operators import sampling

    df = spark.createDataFrame(
        [(1, "a"), (None, "a"), (None, "a"), (2, "a"), (3, "b")],
        "doc_id long, source string",
    )
    out = sampling.top_k_per_group(df, "source", 2)
    rows = [(r.source, r.doc_id) for r in out.collect()]
    assert all(i is not None for _, i in rows)
    assert sorted(rows) == [("a", 1), ("a", 2), ("b", 3)]


def test_length_batches_null_text_is_empty_doc(spark, duck):
    from pysparkline.operators import text as T

    df = spark.createDataFrame(
        [(1, None), (2, "a b c"), (3, "")], "doc_id long, text string"
    )
    got = {r.doc_id: (r.n_tokens, r.bucket)
           for r in T.length_bucketed_batches(df, 8).collect()}
    assert got[1] == (0, 0) and got[3] == (0, 0)
    assert got[2][0] == 3


def test_text_index_append_equals_full_build(spark, docs, tmp_path):
    """Committed-batch incremental ingest: build on half the corpus, append
    the rest in two batches -> search() is BIT-identical to one built on
    the full corpus (exact integer totalDl => identical avgdl; df comes
    from the unioned segments)."""
    from pysparkline.operators.search import TextIndex

    q = "data quality model training"
    half1 = docs.where("doc_id % 3 = 0")
    half2 = docs.where("doc_id % 3 = 1")
    half3 = docs.where("doc_id % 3 = 2")
    ti = TextIndex.build(spark, half1, str(tmp_path / "inc"), n_buckets=16)
    assert ti.append(half2) is not None
    assert ti.append(half3) is not None
    full = TextIndex.build(spark, docs, str(tmp_path / "full"), n_buckets=16)
    got = [(r["doc_id"], r["score"]) for r in ti.search(q, k=10).collect()]
    want = [(r["doc_id"], r["score"]) for r in full.search(q, k=10).collect()]
    assert got == want
    assert ti.manifest["nDocs"] == full.manifest["nDocs"]
    assert ti.manifest["totalDl"] == full.manifest["totalDl"]
    assert ti.manifest["avgdl"] == full.manifest["avgdl"]

    # reload sees the committed batches
    ti2 = TextIndex.load(spark, str(tmp_path / "inc"))
    assert [
        (r["doc_id"], r["score"]) for r in ti2.search(q, k=10).collect()
    ] == want

    # empty append is a no-op (no file-less batch dir, stats unchanged)
    before = dict(ti2.manifest)
    assert ti2.append(docs.where("doc_id < 0")) is None
    assert ti2.manifest == before

    # compact: one batch left, identical results, orphans swept
    ti2.compact()
    assert len(ti2.manifest["batches"]) == 1
    assert [
        (r["doc_id"], r["score"]) for r in ti2.search(q, k=10).collect()
    ] == want


def test_text_index_legacy_manifest_append_recovers_exact(
    spark, docs, tmp_path
):
    """ADVICE r7 #3: a pre-append-era manifest stores only the FLOAT avgdl;
    load() marks the reconstructed totalDl approximate (totalDlExact=False)
    and the FIRST append() recomputes the exact integer from the stored
    postings — so search after appending to a legacy index is still
    BIT-identical to a full rebuild, instead of permanently baking in an
    off-by-a-few-tokens totalDl."""
    import json
    import os

    from pysparkline.operators.search import TextIndex

    q = "data quality model training"
    half1 = docs.where("doc_id % 2 = 0")
    half2 = docs.where("doc_id % 2 = 1")
    ti = TextIndex.build(spark, half1, str(tmp_path / "leg"), n_buckets=16)
    # rewrite the manifest to the legacy (pre-append) shape: drop the
    # incremental fields and perturb avgdl's last bits so the naive
    # int(round(avgdl*nDocs)) reconstruction is provably off
    mpath = os.path.join(str(tmp_path / "leg"), TextIndex.MANIFEST)
    with open(mpath) as fh:
        m = json.load(fh)
    true_dl = m["totalDl"]
    for k in ("totalDl", "totalDlExact", "batches"):
        m.pop(k, None)
    m["avgdl"] = (true_dl + 0.4) / m["nDocs"]  # reconstructs to +0 or +1 off
    with open(mpath, "w") as fh:
        json.dump(m, fh)

    leg = TextIndex.load(spark, str(tmp_path / "leg"))
    assert leg.manifest["totalDlExact"] is False
    assert leg.append(half2) is not None
    # first append recomputed the exact integer before committing
    assert leg.manifest["totalDlExact"] is True
    full = TextIndex.build(spark, docs, str(tmp_path / "legfull"),
                           n_buckets=16)
    assert leg.manifest["totalDl"] == full.manifest["totalDl"]
    assert leg.manifest["avgdl"] == full.manifest["avgdl"]
    got = [(r["doc_id"], r["score"]) for r in leg.search(q, k=10).collect()]
    want = [
        (r["doc_id"], r["score"]) for r in full.search(q, k=10).collect()
    ]
    assert got == want
    # reload keeps the recovered exactness
    assert TextIndex.load(spark, str(tmp_path / "leg")).manifest[
        "totalDlExact"
    ] is True


def test_text_index_crashed_append_invisible(spark, docs, tmp_path):
    """A crash between the batch write and the manifest commit leaves an
    orphan readers never see: stats unchanged, search unchanged, and the
    next compact() sweeps the orphan directory."""
    import os

    from pysparkline.operators.search import TextIndex

    q = "data quality model training"
    ti = TextIndex.build(
        spark, docs.where("doc_id % 2 = 0"), str(tmp_path / "cr"),
        n_buckets=16,
    )
    want = [(r["doc_id"], r["score"]) for r in ti.search(q, k=10).collect()]
    n_before = ti.manifest["nDocs"]

    from pysparkline import index as index_mod

    real_dump = index_mod.atomic_json_dump
    calls = {"n": 0}

    def boom(obj, path):
        calls["n"] += 1
        raise OSError("simulated crash before manifest commit")

    index_mod.atomic_json_dump = boom
    try:
        with pytest.raises(OSError):
            ti.append(docs.where("doc_id % 2 = 1"))
    finally:
        index_mod.atomic_json_dump = real_dump
    assert calls["n"] == 1
    # in-memory rollback: stats and batch list restored
    assert ti.manifest["nDocs"] == n_before
    assert ti.manifest["batches"] == []
    # on-disk state: reload sees the pre-append index; orphan dir exists
    ti2 = TextIndex.load(spark, str(tmp_path / "cr"))
    assert ti2.manifest["nDocs"] == n_before
    got = [(r["doc_id"], r["score"]) for r in ti2.search(q, k=10).collect()]
    assert got == want
    orphans = os.listdir(os.path.join(str(tmp_path / "cr"), "batches"))
    assert len(orphans) == 1
    ti2.compact()
    assert os.listdir(os.path.join(str(tmp_path / "cr"), "batches")) == []


def test_weighted_sample_deterministic_and_weighted(spark):
    """A-ES weighted sampling: layout-invariant draws, exact count,
    exclusion rules, per-group mode, and weight-proportional tendency
    (heavy rows appear far more often across seeds)."""
    from pysparkline.operators import sampling

    rows = [(i, "g" if i % 2 else "h", 100.0 if i < 10 else 1.0)
            for i in range(200)]
    rows += [(None, "g", 50.0), (900, "g", 0.0), (901, "g", None)]
    df = spark.createDataFrame(rows, "doc_id long, grp string, w double")

    a = sampling.weighted_sample(df, "w", k=20, id_col="doc_id")
    got = [(r.doc_id, r.sample_rank) for r in a.collect()]
    assert len(got) == 20
    assert all(d is not None and d not in (900, 901) for d, _ in got)
    # layout invariance: same draw after a re-shard
    b = sampling.weighted_sample(df.repartition(13), "w", k=20,
                                 id_col="doc_id")
    assert sorted(got) == sorted((r.doc_id, r.sample_rank) for r in b.collect())

    # weight-proportional tendency: the 10 weight-100 rows vastly
    # outnumber weight-1 rows in a k=20 draw (A-ES: P(weight-100 row
    # drawn) >> P(weight-1 row)); expect at least 9 of the 10 present
    heavy = sum(1 for d, _ in got if d < 10)
    assert heavy >= 9, got

    # per-group: exact k per group
    g = sampling.weighted_sample(df, "w", k=5, id_col="doc_id",
                                 group_col="grp").collect()
    per = {}
    for r in g:
        per.setdefault(r.grp, []).append(r.sample_rank)
    assert sorted(per) == ["g", "h"]
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per.values())

    # different seed -> (almost surely) different draw
    c = sampling.weighted_sample(df, "w", k=20, id_col="doc_id", seed=7)
    assert sorted(r.doc_id for r in c.collect()) != sorted(d for d, _ in got)

    # 100 TB plan shape: the GLOBAL draw must be TakeOrderedAndProject
    # (per-partition k-row heaps), never an unpartitioned rank window
    # shuffling the whole corpus to one task
    plan = (
        sampling.weighted_sample(df, "w", k=20, id_col="doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_text_index_append_token_free_docs(spark, docs, tmp_path):
    """Docs with no indexable tokens (review r7b #1): the corpus constants
    still update (they count toward nDocs/avgdl), but NO batch directory
    commits — a 0-row partitioned write would poison every later read."""
    import os

    from pysparkline.operators.search import TextIndex

    ti = TextIndex.build(
        spark, docs.where("doc_id % 2 = 0"), str(tmp_path / "tf"),
        n_buckets=16,
    )
    n0, dl0 = ti.manifest["nDocs"], ti.manifest["totalDl"]
    punct = spark.createDataFrame(
        [(10**9, "!!! ???"), (10**9 + 1, "...")], "doc_id long, text string"
    )
    assert ti.append(punct) is None
    assert ti.manifest["nDocs"] == n0 + 2
    assert ti.manifest["totalDl"] == dl0  # zero tokens added
    assert ti.manifest["batches"] == []
    assert not os.path.exists(os.path.join(str(tmp_path / "tf"), "batches"))
    # search still works and reload agrees with the in-memory view
    assert len(ti.search("data quality", k=5).collect()) == 5
    ti2 = TextIndex.load(spark, str(tmp_path / "tf"))
    assert ti2.manifest["nDocs"] == n0 + 2


def test_text_index_token_free_append_failed_commit_rolls_back(
    spark, docs, tmp_path
):
    """A token-free append commits only corpus constants; if that manifest
    rewrite raises, nDocs/totalDl stay unchanged both in memory and on
    disk, like a failed batch commit."""
    from pysparkline import index as index_mod
    from pysparkline.operators.search import TextIndex

    ti = TextIndex.build(
        spark, docs.where("doc_id % 2 = 0"), str(tmp_path / "tfr"),
        n_buckets=16,
    )
    before = {k: ti.manifest[k] for k in ("nDocs", "totalDl", "avgdl")}
    punct = spark.createDataFrame(
        [(10**9, "!!! ???"), (10**9 + 1, "...")], "doc_id long, text string"
    )

    real_dump = index_mod.atomic_json_dump

    def boom(obj, path):
        raise OSError("simulated crash before manifest commit")

    index_mod.atomic_json_dump = boom
    try:
        with pytest.raises(OSError):
            ti.append(punct)
    finally:
        index_mod.atomic_json_dump = real_dump
    assert {k: ti.manifest[k] for k in before} == before
    assert ti.manifest["batches"] == []
    reloaded = TextIndex.load(spark, str(tmp_path / "tfr"))
    assert {k: reloaded.manifest[k] for k in before} == before
