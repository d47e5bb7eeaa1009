"""Pipeline operators: dedup recall, similarity ranking, text stats,
multimodal plumbing."""

import os

import pytest
from pyspark.sql import functions as F

from myduckdb_spark.pipeline.dedup import (
    char_shingles_expr,
    exact_dedup,
    jaccard,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    word_ngrams_expr,
)
from myduckdb_spark.pipeline.multimodal import attach_fake_media, extract_features
from myduckdb_spark.pipeline.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_bucketed_topk,
)
from myduckdb_spark.pipeline.textstats import lang_id, quality_score, text_stats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy cat", "en"),  # near-dup of 1
        (3, "der hund ist nicht ein katze und das ist gut", "de"),
        (4, "le chat est un animal et le chien est un ami", "fr"),
        (5, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 1
        (6, "completely different text about spark engines", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup(docs):
    out = exact_dedup(docs)
    assert out.count() == 5
    rep = out.filter(F.col("n_copies") == 2).collect()[0]
    assert rep["doc_id"] == 1


def test_shingles_and_jaccard(spark):
    df = spark.createDataFrame([("abcd", "bcde")], "a string, b string")
    row = df.select(
        char_shingles_expr("a", 2).alias("sa"),
        char_shingles_expr("b", 2).alias("sb"),
    ).select(jaccard(F.col("sa"), F.col("sb")).alias("j")).collect()[0]
    # 2-grams: {ab,bc,cd} vs {bc,cd,de} → 2/4
    assert row["j"] == pytest.approx(0.5)


_SHINGLE_TEXTS = [
    "the quick brown fox", "line one\nline two", "crlf\r\nend",
    "para\u2028sep", "café crème brûlée", "😀 starts", "mid 😀 dle",
    "ends 😀", "😀😀😀😀😀😀", "ab😀cd", "abc", "ab", "", None,
]


def _substring_shingles_sql(col: str, k: int, distinct: bool) -> str:
    """Reference: the interpreted-lambda shingling that the regex pass
    replaced, one substring per code-point window start."""
    sql = (
        f"CASE WHEN length({col}) < {k} THEN CAST(array() AS array<string>)"
        f" ELSE transform(sequence(1, length({col}) - {k - 1}),"
        f" i -> substring({col}, i, {k})) END"
    )
    return f"array_distinct({sql})" if distinct else sql


@pytest.mark.parametrize("distinct", [True, False])
@pytest.mark.parametrize("k", [2, 3, 5])
def test_char_shingles_match_substring_windows(spark, k, distinct):
    """The regex shingles equal the substring windows, element for
    element and in order: line terminators, U+2028, accents, emoji
    (surrogate pairs) anywhere, text of exactly k, fewer than k, empty
    and NULL."""
    texts = _SHINGLE_TEXTS + ["x" * k, "é" * k, "😀" * k]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    rows = df.select(
        "i",
        char_shingles_expr("t", k, distinct).alias("got"),
        F.expr(_substring_shingles_sql("t", k, distinct)).alias("want"),
    ).orderBy("i").collect()
    assert [(r["i"], r["got"]) for r in rows] == [(r["i"], r["want"]) for r in rows]


@pytest.mark.parametrize("texts", [
    ["ab", "ab", "x", "x", "hello world", "hello world!", ""],
    ["ab", "ab", "x", ""],  # no doc has a shingle: the n_vocab == 0 return
    ["ab😀cd", "ab😀cd!", "😀😀😀😀", "😀😀😀😀😀", "x😀", "x😀", "😀 hi 😀"],
], ids=["mixed", "all-short", "emoji"])
def test_short_docs_have_no_shingle_like_duckdb(spark, texts, monkeypatch):
    """Text shorter than k has no shingle, so two equal short docs are
    not a Jaccard-1.0 pair, and an emoji is one character: the exact
    pair finder and every minhash_lsh_pairs plan (all-pairs bitmap,
    banded with bitmap verify, banded with hashed-array verify) equal
    the DuckDB oracle."""
    import duckdb

    from myduckdb_spark.pipeline import dedup as D
    from myduckdb_spark.queries.pipeline_ops import _EXACT_JACCARD_PAIRS_SQL

    rows = list(enumerate(texts))
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = con.execute(_EXACT_JACCARD_PAIRS_SQL.format(thr=0.7)).fetchall()
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def minhash():
        return minhash_lsh_pairs(docs, k=3, threshold=0.7, num_hashes=128, bands=32)

    results = [ngram_jaccard_pairs(docs, k=3, threshold=0.7), minhash()]
    monkeypatch.setattr(D, "_ALLPAIRS_MAX_DOCS", 0)  # force banded LSH
    results.append(minhash())
    monkeypatch.setattr(D, "_BITMAP_VOCAB_MAX", 0)  # force array verify
    results.append(minhash())
    for pairs in results:
        assert sorted(map(tuple, pairs.collect())) == want


def test_word_ngrams(spark):
    df = spark.createDataFrame([("a b c d",), ("a",)], "t string")
    rows = df.select(word_ngrams_expr("t", 2).alias("g")).collect()
    assert [r["g"] for r in rows] == [["a b", "b c", "c d"], []]


def test_minhash_lsh_finds_exact_pairs(docs):
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.6).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, threshold=0.6, num_hashes=128, bands=32).collect()
    }
    assert (1, 5) in exact and (1, 2) in exact
    assert lsh == exact  # high-band LSH must not lose pairs at this scale


def test_minhash_lsh_banded_path_matches_allpairs(docs, monkeypatch):
    """Force every physical strategy of minhash_lsh_pairs and require
    identical output: the small-input all-pairs bitmap plan (default
    here), the banded-LSH plan with bitmap verify, and the banded-LSH
    plan with hashed-array verify (bitmap disabled)."""
    from myduckdb_spark.pipeline import dedup as D

    allpairs = {
        (r["id_a"], r["id_b"], r["jacc"])
        for r in minhash_lsh_pairs(docs, threshold=0.6, num_hashes=128, bands=32).collect()
    }
    monkeypatch.setattr(D, "_ALLPAIRS_MAX_DOCS", 0)  # force banded LSH
    banded_bitmap = {
        (r["id_a"], r["id_b"], r["jacc"])
        for r in minhash_lsh_pairs(docs, threshold=0.6, num_hashes=128, bands=32).collect()
    }
    monkeypatch.setattr(D, "_BITMAP_VOCAB_MAX", 0)  # force array verify
    banded_arrays = {
        (r["id_a"], r["id_b"], r["jacc"])
        for r in minhash_lsh_pairs(docs, threshold=0.6, num_hashes=128, bands=32).collect()
    }
    assert allpairs == banded_bitmap == banded_arrays and allpairs


def test_minhash_lsh_explicit_n_docs_matches_counted(docs):
    """Passing the corpus row count (catalog.table_row_count's footer
    value at the call sites) must yield the same pairs as letting the
    function count — n_docs is a POLICY input only."""
    counted = {
        (r["id_a"], r["id_b"], r["jacc"])
        for r in minhash_lsh_pairs(docs, threshold=0.6, num_hashes=128, bands=32).collect()
    }
    explicit = {
        (r["id_a"], r["id_b"], r["jacc"])
        for r in minhash_lsh_pairs(
            docs, threshold=0.6, num_hashes=128, bands=32, n_docs=docs.count()
        ).collect()
    }
    assert counted == explicit and counted


def test_table_row_count_matches_spark_count(spark, sf_dir):
    """Footer-metadata row count == df.count() for a bare table scan
    (the invariant that lets dedup's policy probe skip the count job)."""
    from myduckdb_spark.catalog import load_table, table_row_count

    n_footer = table_row_count(sf_dir, "documents")
    n_spark = load_table(spark, sf_dir, "documents").count()
    assert n_footer == n_spark
    assert table_row_count("/nonexistent", "documents") is None


def test_table_row_count_directory_rules(spark, tmp_path):
    """Directory tables: (a) non-parquet-suffixed data files → None (Spark
    would read them; undercounting would loosen dedup's safety gates);
    (b) rewriting a part file in place invalidates the cached count even
    though the directory mtime is unchanged (ADVICE r9)."""
    import os
    import time

    from myduckdb_spark.catalog import table_row_count

    d = tmp_path / "t.parquet"
    spark.range(10).coalesce(1).write.mode("overwrite").parquet(str(d))
    assert table_row_count(str(tmp_path), "t") == 10
    # (b) rewrite a part IN PLACE; keep the directory mtime frozen
    dir_mtime = os.path.getmtime(d)
    part = next(p for p in d.iterdir() if p.name.endswith(".parquet"))
    import pyarrow as pa
    import pyarrow.parquet as pq

    time.sleep(0.05)
    pq.write_table(pa.table({"id": pa.array(range(7), "int64")}), part)
    os.utime(d, (dir_mtime, dir_mtime))
    assert table_row_count(str(tmp_path), "t") == 7
    # (a) an unsuffixed data file makes the footer count unreliable
    (d / "extra-data-file").write_bytes(b"not parquet")
    assert table_row_count(str(tmp_path), "t") is None


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_matches_spark_inference(spark, scale):
    """The table record's footer schema is the schema Spark infers, for
    every catalog table at each fixture scale."""
    from myduckdb_spark.catalog import TABLES, table_facts

    d = f"/root/testdata/{scale}"
    if not os.path.isdir(d):
        pytest.skip(f"fixture directory {d} is absent")
    for t in TABLES:
        p = f"{d}/{t}.parquet"
        assert table_facts(p).schema == spark.read.parquet(p).schema, t


def test_footer_schema_of_spark_written_directory(spark, sf_dir, tmp_path):
    """A directory of Spark-written parts, like the tables
    tools/make_sf_scale.py writes: schema and rows equal Spark's."""
    from myduckdb_spark.catalog import table_facts

    p = str(tmp_path / "events.parquet")
    spark.read.parquet(f"{sf_dir}/events.parquet").repartition(3).write.parquet(p)
    facts = table_facts(p)
    df = spark.read.parquet(p)
    assert facts.schema == df.schema
    assert facts.rows == df.count()


def test_footer_schema_of_storage_probe(spark, tmp_path):
    """A managed table's probe keeps field metadata (``duck_type``), the
    TIMESTAMP_LTZ type and nested types as Spark infers them, with every
    field nullable."""
    from pyspark.sql.types import TimestampType

    from myduckdb_spark.catalog import table_facts
    from myduckdb_spark.storage import ManagedTable

    df = spark.sql(
        "SELECT id, CAST(id AS TINYINT) AS b, TIMESTAMP_LTZ '2024-01-02 03:04:05' AS ts, "
        "named_struct('x', id, 'y', array(id)) AS st, map('k', id) AS m FROM range(3)"
    ).withMetadata("id", {"duck_type": "UBIGINT"})
    t = ManagedTable.create(spark, str(tmp_path / "t"), df)
    probe = t._manifest()["schema_probe"]
    got = table_facts(probe).schema
    assert got == spark.read.parquet(probe).schema
    assert got["id"].metadata == {"duck_type": "UBIGINT"}
    assert isinstance(got["ts"].dataType, TimestampType)
    assert all(f.nullable for f in got.fields)


def test_footer_schema_of_variant_falls_back_to_spark(spark, tmp_path):
    """pyarrow cannot open a VARIANT footer: the record has no row count,
    Spark infers its schema only when a session is passed, and a managed
    table's part still gets Spark's exact count."""
    import pyarrow.parquet as pq

    from myduckdb_spark.catalog import read_footer, table_facts
    from myduckdb_spark.storage import ManagedTable

    df = spark.sql("SELECT id, parse_json('{\"a\": 1}') AS v FROM range(4)").coalesce(1)
    d = str(tmp_path / "v")
    df.write.parquet(d)
    p = next(f"{d}/{n}" for n in sorted(os.listdir(d)) if n.endswith(".parquet"))
    with pytest.raises(OSError):
        pq.read_metadata(p)
    assert read_footer(p) is None
    assert table_facts(p).schema is None and table_facts(p).rows is None
    assert table_facts(p, spark).schema == spark.read.parquet(p).schema
    t = ManagedTable.create(spark, str(tmp_path / "t"), df)
    assert t.count() == 4 and t.scan().count() == 4


def test_table_facts_schema_without_parquet_footer(spark, tmp_path):
    """A directory whose only data file lacks the ``.parquet`` suffix:
    Spark reads the file, so the schema is Spark's inference, not an empty
    one. An empty directory fails as a plain Spark read does."""
    from pyspark.errors import AnalysisException

    from myduckdb_spark.catalog import load_table, table_facts

    d = tmp_path / "t.parquet"
    spark.range(5).coalesce(1).write.parquet(str(d))
    part = next(p for p in d.iterdir() if p.name.endswith(".parquet"))
    part.rename(d / "part-data")
    assert table_facts(str(d)).schema is None and table_facts(str(d)).rows is None
    df = load_table(spark, str(tmp_path), "t")
    assert df.schema == spark.read.parquet(str(d)).schema
    assert df.count() == 5
    (tmp_path / "e.parquet").mkdir()
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        load_table(spark, str(tmp_path), "e")


def test_cold_register_views_starts_no_spark_job(spark, sf_dir, tmp_path):
    """Registering the catalog on a fresh copy of the fixture reads each
    table's schema from its footer: no schema-inference job."""
    import shutil
    import uuid

    from myduckdb_spark import catalog

    d = str(tmp_path / "sf")
    shutil.copytree(sf_dir, d)
    sc = spark.sparkContext
    gid = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        catalog.register_views(spark, d)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = list(sc.statusTracker().getJobIdsForGroup(gid))
        catalog.register_views(spark, sf_dir)
    assert jobs == []


def test_simhash_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in simhash_near_pairs(docs, max_hamming=10).collect()}
    assert (1, 5) in pairs  # identical text → identical fingerprint


def test_similarity_rankings_agree(spark):
    import random

    import numpy as np

    random.seed(7)
    rows = [(i, [random.uniform(-1, 1) for _ in range(16)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = emb.filter(F.col("vec_id") < 3)
    bf = brute_force_topk(probes, emb, k=3)
    got_bf = {(r["probe_id"], r["rank"]): r["neighbor_id"] for r in bf.collect()}
    # float64 cosine over the stored float32 vectors ranks the same ids
    mat = np.asarray([v for _, v in rows], dtype=np.float32).astype(np.float64)
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    want = {}
    for pid in range(3):
        sims = unit @ unit[pid]
        sims[pid] = -np.inf
        for rank, nid in enumerate(np.argsort(-sims)[:3], 1):
            want[(pid, rank)] = int(nid)
    assert got_bf == want
    # LSH output is a subset relation on ranks: every returned neighbor must
    # share the probe's bucket; just check shape/determinism here
    lsh = lsh_bucketed_topk(probes, emb, k=3, planes=4, dim=16)
    assert lsh.count() == lsh.dropDuplicates(["probe_id", "neighbor_id"]).count()


def test_approximate_scores_match_brute_force(spark, sf_dir):
    """LSH and IVF verify their candidates with the brute-force scoring
    steps: every (probe_id, neighbor_id, cos_sim) they return appears,
    with the identical cos_sim, among the exact scores of all pairs."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") % 50 == 0)
    n = emb.count()
    exact = {
        (r["probe_id"], r["neighbor_id"]): r["cos_sim"]
        for r in brute_force_topk(probes, emb, k=n).collect()
    }
    for approx in (
        lsh_bucketed_topk(probes, emb, k=5, planes=2, tables=8),
        ivf_topk(probes, emb, k=5, n_centroids=16, nprobe=12),
    ):
        got = approx.select("probe_id", "neighbor_id", "cos_sim").collect()
        assert got
        assert {(p, nb): c for p, nb, c in got} == {
            (p, nb): exact[(p, nb)] for p, nb, _c in got
        }


def test_brute_force_numpy_path_bit_exact(spark, sf_dir, monkeypatch):
    """The Arrow/numpy scoring kernel must be BIT-identical to the JVM
    zip_with/aggregate kernel (same IEEE products, same HALF_UP rounding,
    same int64 sums): force each path in turn on the same corpus and
    compare the full top-k output, cos_sim values included."""
    from myduckdb_spark.catalog import load_table, table_row_count
    from myduckdb_spark.pipeline import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 50 == 0)
    n = table_row_count(sf_dir, "embeddings")
    hints = {"n_corpus_hint": n, "n_probes_hint": None if n is None else n // 50 + 1}
    monkeypatch.setattr(S, "_NUMPY_SCORE_MIN_PAIRS_PER_CORE", 1)  # force numpy
    via_numpy_df = S.brute_force_topk(probes, emb, k=5, **hints)
    assert "MapInArrow" in (  # prove the numpy path actually ran
        via_numpy_df._jdf.queryExecution().executedPlan().toString()
    )
    via_numpy = sorted(tuple(r) for r in via_numpy_df.collect())
    monkeypatch.setattr(S, "_NUMPY_SCORE_MAX_PROBES", 0)  # force JVM HOF
    via_hof = sorted(
        tuple(r) for r in S.brute_force_topk(probes, emb, k=5, **hints).collect()
    )
    assert via_numpy == via_hof and via_numpy


def test_brute_force_numpy_gate_scales_with_cores(spark):
    """The numpy kernel's pair floor is per core: one pair short of
    `_NUMPY_SCORE_MIN_PAIRS_PER_CORE` × defaultParallelism keeps the JVM
    HOF, the floor itself takes the numpy kernel."""
    from myduckdb_spark.pipeline import similarity as S

    rows = [(i, [float(i % 7) - 3.0, 1.0, 0.5 * i]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = emb.filter(F.col("vec_id") == 0)
    floor = S._NUMPY_SCORE_MIN_PAIRS_PER_CORE * spark.sparkContext.defaultParallelism

    def plan(n_corpus):
        df = brute_force_topk(probes, emb, k=3, n_corpus_hint=n_corpus, n_probes_hint=1)
        return df._jdf.queryExecution().executedPlan().toString()

    assert "MapInArrow" not in plan(floor - 1)
    assert "MapInArrow" in plan(floor)


def test_brute_force_numpy_path_null_and_ragged_vectors(spark):
    """A null, short or null-element corpus vector gets a NULL dot from the
    JVM zip_with kernel; the numpy kernel must give the same NULL instead
    of failing."""
    import random

    random.seed(11)
    rows = [(i, [random.uniform(-1, 1) for _ in range(8)]) for i in range(10)]
    rows += [(10, None), (11, [0.5, -0.25, 0.125]), (12, [0.5] * 7 + [None])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = emb.filter(F.col("vec_id") < 3)
    # hints promise 3 × 1M pairs: over the numpy gate, whatever the real size
    via_numpy_df = brute_force_topk(
        probes, emb, k=20, n_corpus_hint=1_000_000, n_probes_hint=3
    )
    assert "MapInArrow" in (  # prove the numpy path actually ran
        via_numpy_df._jdf.queryExecution().executedPlan().toString()
    )
    via_hof = brute_force_topk(probes, emb, k=20)
    got = sorted(map(tuple, via_numpy_df.collect()), key=lambda r: r[:2])
    want = sorted(map(tuple, via_hof.collect()), key=lambda r: r[:2])
    assert got == want
    nulls = {r[1] for r in got if r[2] is None}
    assert nulls == {10, 11, 12}


def test_text_stats_and_quality(docs):
    s = text_stats(docs).filter(F.col("doc_id") == 1).collect()[0]
    assert s["n_tokens"] == 9 and s["n_distinct_tokens"] == 8
    q = quality_score(docs)
    vals = {r["doc_id"]: r["quality"] for r in q.collect()}
    assert all(0.0 <= v <= 1.0 for v in vals.values())


def test_lang_id(docs):
    out = {r["doc_id"]: r["lang_pred"] for r in lang_id(docs).collect()}
    assert out[1] == "en" and out[3] == "de" and out[4] == "fr"


def test_multimodal_roundtrip(docs):
    media = attach_fake_media(docs)
    assert dict(media.dtypes)["content"] == "binary"
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == docs.count()
    r = {x["doc_id"]: x for x in rows}
    assert len(r[1]["feat"]) == 8
    assert r[1]["feat"] == r[5]["feat"]  # deterministic: same bytes → same features
    assert r[1]["n_bytes"] == len("the quick brown fox jumps over the lazy dog")


def test_multimodal_codec_stub(docs):
    media = attach_fake_media(docs)
    with pytest.raises(Exception, match="codec"):
        extract_features(media, decoder="jpeg").collect()


def test_lsh_recall_floor(spark, sf_dir):
    """The approximate LSH path must reach recall@5 >= 0.9 against the
    exact brute-force baseline at the registered parameters (planes=2,
    tables=8 — coarse buckets: this corpus is near-random, neighbor cos
    ~0.32) — a silent recall collapse now fails the suite."""
    from myduckdb_spark.pipeline.similarity import (
        brute_force_topk,
        lsh_bucketed_topk,
        recall_at_k,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") % 20 == 0)
    approx = lsh_bucketed_topk(probes, emb, k=5, planes=2, tables=8)
    exact = brute_force_topk(probes, emb, k=5)
    row = recall_at_k(approx, exact, k=5).collect()[0]
    assert row["recall"] >= 0.9, row


def test_lsh_clustered_corpus(spark):
    """On a CLUSTERED corpus (the realistic embedding regime: neighbor
    cos >= 0.9) fine-grained buckets (planes=10) reach the same recall
    floor while generating a SUBLINEAR candidate set — the property that
    makes LSH the 100 TB path. Both recall and candidate-fraction are
    asserted."""
    import numpy as np
    from pyspark.sql import functions as F

    from myduckdb_spark.pipeline.similarity import (
        brute_force_topk,
        lsh_bucketed_topk,
        lsh_candidates,
        recall_at_k,
    )

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(20, 64))
    rows = []
    vid = 0
    for c in centers:
        for _ in range(25):
            v = c + 0.15 * rng.normal(size=64)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = emb.filter(F.col("vec_id") % 20 == 0)
    approx = lsh_bucketed_topk(probes, emb, k=5, planes=10, tables=4)
    exact = brute_force_topk(probes, emb, k=5)
    row = recall_at_k(approx, exact, k=5).collect()[0]
    assert row["recall"] >= 0.9, row

    # candidate-set sublinearity: count the pairs the bucket join scores
    n_probes, n_corpus = probes.count(), emb.count()
    cands = lsh_candidates(probes, emb, planes=10, dim=64, tables=4).count()
    assert cands < 0.25 * n_probes * n_corpus, (cands, n_probes * n_corpus)


def test_ivf_clustered_corpus(spark):
    """IVF ANN: on a clustered corpus, searching nprobe of n_centroids
    inverted lists reaches recall@5 >= 0.9 with a sublinear candidate
    set (the FAISS-style scale path; centroids train on a bounded
    sample, assignment/search stay distributed)."""
    import numpy as np
    from pyspark.sql import functions as F

    from myduckdb_spark.pipeline.similarity import brute_force_topk, ivf_topk, recall_at_k

    rng = np.random.default_rng(13)
    centers = rng.normal(size=(16, 64))
    rows = []
    vid = 0
    for c in centers:
        for _ in range(30):
            v = c + 0.15 * rng.normal(size=64)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = emb.filter(F.col("vec_id") % 24 == 0)
    approx = ivf_topk(probes, emb, k=5, n_centroids=16, nprobe=3)
    exact = brute_force_topk(probes, emb, k=5)
    row = recall_at_k(approx, exact, k=5).collect()[0]
    assert row["recall"] >= 0.9, row
