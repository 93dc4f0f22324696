from __future__ import annotations

import tempfile

import pytest
from pyspark.ml.linalg import Vectors
from pyspark.sql import functions as F

from scabillmatch_spark.functions import pk as PK
from scabillmatch_spark.io import sources
from scabillmatch_spark.operators import pairs


@pytest.fixture(scope="module")
def bills(spark):
    rows = [
        ("FL_2005_SB436_Introduced", "stand your ground " * 40, 2005, 9, "SB436", "Introduced"),
        ("MI_2005_SB1046_Introduced", "stand your ground " * 39, 2005, 22, "SB1046", "Introduced"),
        ("NJ_2006_HB11_Enacted", "completely different topic " * 30, 2006, 30, "HB11", "Enacted"),
    ]
    return spark.createDataFrame(
        [(pk, c, y, s, d, v, len(c)) for pk, c, y, s, d, v in rows],
        ["primary_key", "content", "year", "state", "docid", "docversion", "length"],
    )


def test_jsonl_roundtrip(spark, bills, tmp_path):
    path = str(tmp_path / "bills_json")
    sources.write_json(bills, path)
    back = sources.read_bills_json(spark, path)
    assert back.count() == 3
    # JSON reads force nullable=true; compare names+types
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in sources.BILL_SCHEMA
    ]
    assert {r.primary_key for r in back.collect()} == {r.primary_key for r in bills.collect()}


def test_parquet_roundtrip_partitioned(spark, bills, tmp_path):
    path = str(tmp_path / "bills_parquet")
    sources.write_parquet(bills, path, partition_by=["state"])
    back = spark.read.parquet(path)
    assert back.count() == 3
    # partition pruning: reading one state touches one partition dir
    one = back.filter(F.col("state") == 9)
    assert one.count() == 1


def test_pk_helpers(spark, bills):
    parsed = bills.select(
        PK.pk_state("primary_key").alias("st"),
        PK.pk_year("primary_key").alias("yr"),
        PK.make_pk(F.lit("FL"), F.lit(2005), F.lit("SB436"), F.lit("Introduced")).alias("mk"),
    ).first()
    assert parsed.st == "FL" and parsed.yr == 2005
    assert parsed.mk == "FL_2005_SB436_Introduced"


def test_in_list_and_canonical(spark, bills):
    keep = ["FL_2005_SB436_Introduced"]
    assert bills.filter(PK.in_list("primary_key", keep)).count() == 1
    assert bills.filter(PK.in_list("primary_key", keep, negate=True)).count() == 2
    prs = spark.createDataFrame([("b", "a", 1.0), ("c", "d", 2.0)], ["pk1", "pk2", "similarity"])
    out = {(r.pk1, r.pk2) for r in PK.canonical_pair(prs).collect()}
    assert out == {("a", "b"), ("c", "d")}


def test_flatten_struct(spark):
    df = spark.createDataFrame([(1, (10, "x"))], "id int, s struct<a:int,b:string>")
    flat = PK.flatten_struct(df, "s")
    assert set(flat.columns) == {"id", "a", "b"}
    assert flat.first().a == 10


def test_sample_n(spark, sf_med):
    scored = spark.createDataFrame(
        [(str(i), str(i + 1), float(i % 100)) for i in range(10_000)],
        ["pk1", "pk2", "similarity"],
    )
    out = pairs.sample_n(scored, 500, threshold=50.0, seed=7)
    n = out.count()
    assert 300 <= n <= 700  # Bernoulli around the target
    assert out.filter(F.col("similarity") <= 50.0).count() == 0


def test_skim_and_light(spark):
    scored = spark.createDataFrame([("b", "a", 90.0)], ["pk1", "pk2", "similarity"])
    docs = spark.createDataFrame([("a", "text a"), ("b", "text b")], ["primary_key", "content"])
    enriched = pairs.enrich_pairs(scored, docs)
    skim = pairs.make_skim(enriched).first()
    assert skim.pk1_smaller == "a" and skim.content1_smaller == "text a"
    light = pairs.make_light(scored).first()
    assert (light.pk1_smaller, light.pk2_larger) == ("a", "b")


def test_approx_nearest_neighbors(spark):
    from scabillmatch_spark.ml import lsh

    df = spark.createDataFrame(
        [(i, Vectors.sparse(100, [i, i + 1, i + 2], [1.0, 1.0, 1.0])) for i in range(50)],
        ["id", "features"],
    )
    key = Vectors.sparse(100, [10, 11, 12], [1.0, 1.0, 1.0])
    nn = lsh.approx_nearest_neighbors(df, key, 3, "id")
    rows = nn.collect()
    assert len(rows) == 3
    assert rows[0].id == 10 and rows[0].dist == 0.0

def test_whole_text(spark, tmp_path):
    (tmp_path / "a.txt").write_text("line1\nline2")
    (tmp_path / "b.txt").write_text("other")
    out = sources.read_whole_text(spark, str(tmp_path))
    rows = {r.file.rsplit("/", 1)[-1]: r.value for r in out.collect()}
    assert rows == {"a.txt": "line1\nline2", "b.txt": "other"}


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_ngram_helpers_evaluate_their_input_once(spark, bills):
    """An expression passed to the n-gram helpers runs once per row, not
    once per window: the fused form equals the projected form and its
    optimized plan holds one md5 / one tokenizer regex."""
    from scabillmatch_spark.functions import text as TX

    docs = bills.select("primary_key", "content")
    fused = docs.select(
        "primary_key",
        TX.ngram_ids_from_token_ids(TX.ordered_token_ids("content"), 3).alias("g"),
    )
    projected = docs.select(
        "primary_key", TX.ordered_token_ids("content").alias("t")
    ).select("primary_key", TX.ngram_ids_from_token_ids(F.col("t"), 3).alias("g"))
    assert sorted(fused.collect()) == sorted(projected.collect())
    assert _optimized_plan(fused).count("md5(") == 1

    words = docs.select("primary_key", TX.ngram_set("content", 2).alias("g"))
    tokens = docs.select("primary_key", TX.tokens("content").alias("t")).select(
        "primary_key", F.array_sort(F.array_distinct(TX.ngrams(F.col("t"), 2))).alias("g")
    )
    assert sorted(words.collect()) == sorted(tokens.collect())
    assert _optimized_plan(words).count("regexp_replace(") == 1


def test_stemmer_column(spark):
    from scabillmatch_spark.ml.featurize import _stem_column

    df = spark.createDataFrame(
        [("running matched nations quickly",)], ["content"]
    )
    out = df.select(_stem_column(F.col("content")).alias("s")).first().s
    assert "running" not in out and "run" in out
    assert "matched" not in out
    assert "nations" not in out


def test_brp_similarity_join(spark):
    from scabillmatch_spark.ml import lsh

    df = spark.createDataFrame(
        [(i, Vectors.dense([float(i), float(i)])) for i in range(20)],
        ["id", "features"],
    )
    pairs_out = lsh.brp_similarity_join(df, None, "id", dist_threshold=2.0)
    rows = pairs_out.collect()
    assert all(abs(r.pk1 - r.pk2) <= 1 for r in rows)  # only adjacent points within dist 2
    assert len(rows) > 0


def test_bisecting_kmeans(spark):
    from scabillmatch_spark.ml import cluster

    df = spark.createDataFrame(
        [(i, Vectors.dense([float(i % 2) * 10, 0.0])) for i in range(40)],
        ["id", "features"],
    )
    out = cluster.bisecting_kmeans_labels(df, k=2, max_iter=5)
    groups = out.groupBy("prediction").count().collect()
    assert len(groups) == 2 and all(g["count"] == 20 for g in groups)


def test_sql_surface(spark, sf_small):
    from scabillmatch_spark import sql as engine_sql

    engine_sql.register(spark, sf_small)
    row = spark.sql("SELECT sim_jaccard(array(1,2,3), array(2,3,4)) AS j").first()
    assert abs(row.j - 50.0) < 1e-9
    n = spark.sql("SELECT count(*) AS n FROM documents").first().n
    assert n == 500
    v = spark.sql("""
        SELECT sim_v_cosine(
            struct(0 AS type, 3 AS size, array(0,1) AS indices, array(1.0,1.0) AS values),
            struct(0 AS type, 3 AS size, array(0,1) AS indices, array(1.0,1.0) AS values)
        ) AS c
    """).first().c
    assert abs(v - 100.0) < 1e-6
    # table function: lateral sliding-window chunking (Spark 4 UDTF)
    chunks = spark.sql("""
        SELECT chunk_idx, chunk
        FROM (SELECT 'abcdefghij' AS t), LATERAL chunk_text(t, 4, 1)
        ORDER BY chunk_idx
    """).collect()
    assert [(r.chunk_idx, r.chunk) for r in chunks] == [
        (0, "abcd"), (1, "defg"), (2, "ghij"), (3, "j"),
    ]
    null_rows = spark.sql(
        "SELECT * FROM (SELECT CAST(NULL AS STRING) AS t),"
        " LATERAL chunk_text(t, 4, 1)"
    ).collect()
    assert null_rows == []


def test_tmp_workdir_unique_and_sweeps_stale():
    """_tmp_workdir protects the correctness gate's round-trip queries:
    every invocation must get its OWN directory (no pid/sf collision
    class survives), and >2h-stale scabillmatch_* leftovers from crashed
    runs are swept on first use."""
    import os
    import shutil
    import tempfile
    import time

    import __spark_entry__ as entrymod

    a = entrymod._tmp_workdir("t", "/root/testdata/sf0.001")
    b = entrymod._tmp_workdir("t", "/root/testdata/sf0.001")
    assert a != b  # invocation-unique, same pid + same sf
    root = tempfile.gettempdir()
    assert os.path.basename(a).startswith("scabillmatch_t_sf0.001_")

    stale = os.path.join(root, "scabillmatch_teststale_x")
    fresh = os.path.join(root, "scabillmatch_testfresh_x")
    for d in (stale, fresh):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    past = time.time() - entrymod._TMP_STALE_SECONDS - 60
    os.utime(stale, (past, past))
    # liveness guard (r8 advisor): a stale-by-mtime dir whose embedded
    # owner pid is STILL ALIVE must be skipped (a >2h run still owns it);
    # one with a dead pid must be swept
    live = os.path.join(root, f"scabillmatch_t_sfX_{os.getpid()}_deadbeef")
    # strictly beyond this host's pid_max — a pid that cannot exist (a
    # fixed constant like 4_000_000 IS a valid pid under systemd's
    # pid_max=4194304 default and could belong to a live process)
    with open("/proc/sys/kernel/pid_max") as fh:
        deadpid = int(fh.read().strip()) + 1
    dead = os.path.join(root, f"scabillmatch_t_sfX_{deadpid}_deadbeef")
    for d in (live, dead):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        os.utime(d, (past, past))
    try:
        entrymod._swept_stale_tmp = False  # re-arm the once-per-process sweep
        entrymod._tmp_workdir("t", "/root/testdata/sf0.001")
        assert not os.path.exists(stale)  # old leftover swept
        assert os.path.exists(fresh)  # recent dirs untouched
        assert os.path.exists(live)  # stale but owner alive: skipped
        assert not os.path.exists(dead)  # stale and owner gone: swept
    finally:
        for d in (stale, fresh, live, dead):
            shutil.rmtree(d, ignore_errors=True)


def test_xml_roundtrip_nasty_strings(spark, tmp_path):
    """Entity escaping, embedded newlines/tabs, unicode, whitespace edges."""
    from pyspark.sql import types as T

    from scabillmatch_spark.io.sources import read_xml, write_xml

    rows = [
        (1, 'a<b&c>"d\'e'),
        (2, "line1\nline2\r\nline3"),
        (3, "  leading and trailing  "),
        (4, "tab\there"),
        (5, "unicode é中文 \U0001f600"),
        (6, "]]> cdata-ish & <row> fake tag </row>"),
        # r10 advice: the empty-string/NULL distinction is the classic XML
        # reader trap (many readers collapse <txt></txt> to NULL). With
        # ignoreSurroundingSpaces=False pinned in read_xml, '' survives as
        # '' and NULL (omitted element) as NULL — verified distinguishable
        # here BEFORE q_io_xml_roundtrip's r11 registration.
        (7, ""),
        (8, None),
    ]
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("txt", T.StringType()),
    ])
    df = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "xml")
    write_xml(df, path, row_tag="r", root_tag="rs")
    back = read_xml(spark, path, schema, row_tag="r")
    assert {(r.id, r.txt) for r in back.collect()} == set(rows)
    assert [f.dataType.simpleString() for f in back.schema.fields] == [
        "bigint", "string",
    ]


def test_xml_roundtrip_matches_oracle(spark):
    """Registered-query pin (r11 row io_xml_roundtrip): the query matches
    its DuckDB oracle typed-exact at sf0.001; also verified at sf0.01
    out-of-band (PLANS.md round 10)."""
    import duckdb

    import __spark_entry__ as entrymod
    from tools_compare import compare_typed

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    df = entrymod.q_io_xml_roundtrip(spark, sf)
    rows = [tuple(r) for r in df.collect()]
    res = compare_typed(df, rows, con, entrymod._io_xml_roundtrip_oracle())
    assert all(
        res[k] for k in ("rows_match", "schema_match", "hash_match", "type_match")
    ), res


def test_forensic_append_rotates_under_lock(tmp_path, monkeypatch):
    """r10 verdict ask: the forensic jsonl is BOUNDED — a file past the
    4 MB cap rotates to .1 (never silently dropped) before the new record
    lands, the rotation runs under a sidecar flock (r11: two concurrent
    rotators could both os.replace and drop an archive), and a normal
    append below the cap just appends."""
    import json
    import os

    from pyspark.sql import Row

    import __spark_entry__ as entrymod

    fdir = str(tmp_path / "forensics")
    monkeypatch.setattr(entrymod, "_FORENSICS_DIR", fdir)
    rows = [Row(lang="en", n=1)]
    # 1. plain append below the cap: file created, one JSON line, lockfile
    entrymod._forensic_append("unit_probe", "/root/testdata/sf0.001", rows)
    path = os.path.join(fdir, "unit_probe.jsonl")
    lines = open(path).read().splitlines()
    assert len(lines) == 1
    assert json.loads(lines[0])["rows"] == [{"lang": "en", "n": 1}]
    assert os.path.exists(path + ".lock")
    # 2. grow past the cap: next append must rotate first, then land the
    # record in a fresh file — history preserved in .1
    with open(path, "a") as fh:
        fh.write("x" * (4 * 1024 * 1024 + 1) + "\n")
    entrymod._forensic_append("unit_probe", "/root/testdata/sf0.001", rows)
    assert os.path.exists(path + ".1"), "oversized file must rotate, not drop"
    fresh = open(path).read().splitlines()
    assert len(fresh) == 1 and json.loads(fresh[0])["query"] == "unit_probe"
    assert os.path.getsize(path + ".1") > 4 * 1024 * 1024
    # 3. a second oversized rotation replaces the archive (bounded at ~2 caps)
    with open(path, "a") as fh:
        fh.write("y" * (4 * 1024 * 1024 + 1) + "\n")
    entrymod._forensic_append("unit_probe", "/root/testdata/sf0.001", rows)
    assert len(open(path).read().splitlines()) == 1
