"""Driver-style correctness harness: every queries() entry vs its DuckDB
oracle at sf0.01, through one strict comparator (column names, dtype
family per column, exact raw values as an unordered multiset of rows)."""

from __future__ import annotations

import duckdb
import pytest

from docling_ibm_models_spark.plans.queries import ORACLES, QUERIES

from .conftest import SF_MED

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_MED}/{t}.parquet')"
        )
    yield con
    con.close()


def _dtype_family(s) -> str:
    """The pandas dtype of a result column, coarsened the way the driver's
    hash sees it: integer widths fall in one ``int`` family, and an object
    column of Python ints (a DuckDB HUGEINT) is not an ``int`` column."""
    k = s.dtype.kind
    if k in "iu":
        return "int"
    if k in "fbM":
        return {"f": "float", "b": "bool", "M": "datetime"}[k]
    if k == "O":
        vals = s.dropna()[:50]
        if len(vals) and all(isinstance(v, int) for v in vals):
            return "int-as-object"
        if len(vals) and all(isinstance(v, float) for v in vals):
            return "float-as-object"
        return "object"
    return str(s.dtype)


def _canon(v):
    if isinstance(v, float) and v != v:
        return ("nan",)  # NaN equals NaN
    return v


def _assert_matches_oracle(got, want):
    """Assert a Spark result (``toPandas()``) equals its oracle result
    (DuckDB ``.df()``): column names as sets, one dtype family per column,
    and raw values, unrounded, as an unordered multiset of rows."""
    cols = sorted(got.columns)
    wcols = sorted(want.columns)
    assert cols == wcols, f"columns {cols} vs oracle {wcols}"
    assert len(got) == len(want), f"{len(got)} rows vs oracle {len(want)}"
    for c in cols:
        fg, fw = _dtype_family(got[c]), _dtype_family(want[c])
        assert fg == fw, f"column {c}: dtype family {fg} vs oracle {fw}"

    def rows(pdf):
        data = zip(*(pdf[c].tolist() for c in cols))
        return sorted((tuple(_canon(v) for v in r) for r in data), key=repr)

    for i, (a, b) in enumerate(zip(rows(got), rows(want))):
        assert a == b, f"sorted row {i} of {cols}: {a!r} vs oracle {b!r}"


def test_every_query_has_an_oracle():
    assert set(QUERIES) == set(ORACLES)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    got = QUERIES[name](spark, SF_MED).toPandas()
    _assert_matches_oracle(got, duck.execute(ORACLES[name]).df())


def test_ngram_jaccard_df_cap_boundary(spark, tmp_path):
    """dedup_ngram_jaccard's df prune at its edges, against the unchanged
    oracle on one synthetic documents table: a shingle in exactly
    NGRAM_DF_CAP docs is kept, one in NGRAM_DF_CAP + 1 docs is pruned (it
    would raise every pair's n_common), a single-doc shingle pairs with
    nothing, a doc that repeats a shingle counts it once, and a doc with
    fewer than 3 tokens has no shingles at all."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from docling_ibm_models_spark.plans.queries import NGRAM_DF_CAP

    cap = NGRAM_DF_CAP
    # docs 0..cap-1 share "k1 k2 k3 x1 x2 x3" (df = cap for the k-shingles)
    # plus a private tail of i % 5 "u<i>" tokens; a tail of 4 repeats the
    # shingle "u<i> u<i> u<i>".
    texts = [
        "k1 k2 k3 x1 x2 x3" + f" u{i}" * (i % 5) for i in range(cap)
    ]
    texts += [
        "x1 x2 x3",          # lifts "x1 x2 x3" to df = cap + 1
        "s1 s2 s3 s4",       # single-doc shingles only
        "two tokens",        # < 3 tokens: no shingles
        "p1 p2 p3 p4",       # df = 2 pair, jaccard 1/3
        "p1 p2 p3 q4",
    ]
    path = tmp_path / "documents.parquet"
    pq.write_table(
        pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts}),
        path,
    )
    got = QUERIES["dedup_ngram_jaccard"](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    want = con.execute(ORACLES["dedup_ngram_jaccard"]).df()
    con.close()

    pairs = set(zip(got["doc_a"].tolist(), got["doc_b"].tolist()))
    assert {(cap - 2, cap - 1), (cap + 3, cap + 4)} <= pairs
    _assert_matches_oracle(got, want)


def test_shingle_tokenization_matches_oracle_on_hostile_whitespace(spark, duck):
    """The Arrow shingling UDF must mirror regexp_split_to_array(trim(
    lower(text)), '\\s+') even for leading \\n/\\t (trim strips SPACES
    only, so a leading non-space whitespace yields an empty first token —
    a plain str.split() drops it and diverges)."""
    from docling_ibm_models_spark.plans import queries as Q

    rows = [
        (0, "\nalpha beta gamma delta"),
        (1, "\talpha beta gamma delta"),
        (2, "  alpha beta gamma delta  "),
        (3, "alpha\nbeta gamma\tdelta epsilon"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: sorted(r.shingles)
        for r in Q._shingles_spark(docs).collect()
    }
    con = duck.cursor()
    con.execute("CREATE OR REPLACE TABLE _adv(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO _adv VALUES (?, ?)", rows)
    sql = Q._SHINGLES_SQL.replace("FROM documents", "FROM _adv")
    exp = {
        d: sorted(s)
        for d, s in con.execute(f"SELECT doc_id, shingles FROM ({sql})").fetchall()
    }
    assert got == exp


def test_corpus_whitespace_invariant():
    """ADVICE r5: Java regex \\s (Spark) matches U+000B vertical tab while
    DuckDB's RE2 \\s does not, so every pinned '\\s+' tokenizer pair agrees
    only while the corpus carries no whitespace outside [ \\t\\n\\r\\f].
    The oracle SQL text is frozen; assert the corpus invariant instead —
    at every local SF, no document may contain \\x0B or any other
    non-ASCII whitespace the two engines would split differently."""
    import re

    import pyarrow.parquet as pq

    hostile = re.compile(r"[^\S \t\n\r\f]")  # whitespace NOT in the safe set
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        texts = pq.read_table(
            f"/root/testdata/{sf}/documents.parquet", columns=["text"]
        )["text"].to_pylist()
        bad = [t[:40] for t in texts if t and hostile.search(t)]
        assert not bad, f"{sf}: {len(bad)} docs with engine-divergent whitespace"
