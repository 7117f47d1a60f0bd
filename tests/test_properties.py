"""Property-based tests (SURVEY §5): invariants under generated inputs.

One Spark job per hypothesis example is too slow; each property instead
generates a BATCH of inputs per example and checks all rows in one job,
with a small example budget — wide input coverage, bounded wall time.
"""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from vmware_graph_spark.functions.scalar import (
    IPV4_RE,
    path_last,
    path_parent,
    rlike_full,
)

PROP = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# dotted-quad-ish strings: real IPs, out-of-range octets, junk hosts
ipish = st.one_of(
    st.from_regex(r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", fullmatch=True),
    st.from_regex(r"[a-z][a-z0-9.-]{0,20}", fullmatch=True),
    st.sampled_from(["256.1.1.1", "01.2.3.4", "10.0.0.1 ", "", "1.2.3", "1.2.3.4.5"]),
)


@PROP
@given(st.lists(ipish, min_size=1, max_size=50))
def test_ipv4_classifier_matches_python_fullmatch(spark, addrs):
    """The engine's anchored rlike == Python re.fullmatch on the same
    pattern — the Cypher `=~` anchoring trap can never regress."""
    df = spark.createDataFrame([(a,) for a in addrs], "addr string")
    got = {
        r.addr: r.is_ip
        for r in df.select("addr", rlike_full("addr", IPV4_RE).alias("is_ip")).collect()
    }
    want = {a: re.fullmatch(IPV4_RE, a) is not None for a in addrs}
    # collect() dedups nothing but dict keys collapse duplicate addrs —
    # fullmatch is pure, so collapsing is safe.
    assert got == want


segment = st.from_regex(r"[A-Za-z0-9 _.-]{1,8}", fullmatch=True)


@PROP
@given(st.lists(st.lists(segment, min_size=2, max_size=6), min_size=1, max_size=30))
def test_path_parent_plus_leaf_reassembles(spark, seg_lists):
    """parent + '/' + leaf == path for every well-formed absolute path
    (the structural computation the reference's replace() trick gets
    wrong on repeated segments — including those generated here), and
    ingest's ``_PARENT_SQL`` computes the same parent."""
    from vmware_graph_spark.ingest.stages import _PARENT_SQL

    paths = ["/" + "/".join(segs) for segs in seg_lists]
    df = spark.createDataFrame([(p,) for p in paths], "path string")
    rows = df.select(
        "path",
        path_parent("path").alias("parent"),
        path_last("path").alias("leaf"),
        F.expr(_PARENT_SQL.format("path")).alias("sql_parent"),
    ).collect()
    for r in rows:
        assert r.parent + "/" + r.leaf == r.path
        # ingest's SQL form of the parent rule is the same function
        assert r.sql_parent == r.parent


edge_id = st.from_regex(r"[a-z]{1,6}", fullmatch=True)


@PROP
@given(st.lists(st.tuples(edge_id, edge_id), min_size=1, max_size=40))
def test_canonical_edges_direction_invariant(spark, pairs):
    """For undirected types, asserting (a)->(b) and (b)->(a) must merge
    to the same canonical row set regardless of input direction."""
    from vmware_graph_spark.operators.merge import canonical_edges

    def edges_df(tuples):
        return spark.createDataFrame(
            [("L", a, "LINKS", "L", b) for a, b in tuples],
            "src_label string, src_key string, rel_type string, dst_label string, dst_key string",
        )

    fwd = canonical_edges(edges_df(pairs), ["LINKS"]).collect()
    rev = canonical_edges(edges_df([(b, a) for a, b in pairs]), ["LINKS"]).collect()
    assert sorted(map(tuple, fwd)) == sorted(map(tuple, rev))


# -- temporal: as-of join vs brute-force reference ---------------------------

_events_batch = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),      # key
        st.integers(min_value=0, max_value=100),    # left ts (seconds)
    ),
    min_size=1,
    max_size=25,
)
_right_batch = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),
        st.integers(min_value=0, max_value=100),
    ),
    min_size=0,
    max_size=25,
    unique=True,  # right side must be unique per (key, ts) by contract
)


@PROP
@given(_events_batch, _right_batch)
def test_asof_join_matches_bruteforce(spark, lefts, rights):
    from datetime import datetime, timedelta

    from vmware_graph_spark.operators.temporal import asof_join

    base = datetime(2024, 1, 1)
    ldf = spark.createDataFrame(
        [(k, i, base + timedelta(seconds=t)) for i, (k, t) in enumerate(lefts)],
        "k int, lid int, ts timestamp",
    )
    rdf = spark.createDataFrame(
        [(k, base + timedelta(seconds=t), t) for (k, t) in rights],
        "k int, ts timestamp, val int",
    )
    got = {
        r.lid: r.r_val
        for r in asof_join(ldf, rdf, "k", "ts", "ts", right_cols=["val"]).collect()
    }
    for i, (k, t) in enumerate(lefts):
        prior = [rv for (rk, rv) in rights if rk == k and rv <= t]
        want = max(prior) if prior else None
        assert got[i] == want, (i, k, t, got[i], want)


# -- sketches: KMV exactness below k, discrete percentile = sorted index -----


@PROP
@given(st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=60))
def test_kmv_exact_when_distinct_below_k(spark, values):
    from vmware_graph_spark.functions.sketch import kmv_distinct

    df = spark.createDataFrame([("g", v) for v in values], "g string, v int")
    got = kmv_distinct(df, ["g"], "v", k=64).collect()[0]["est_distinct"]
    assert got == len(set(values))


@PROP
@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=60,
    ),
    st.floats(min_value=0.01, max_value=1.0),
)
def test_disc_percentile_is_sorted_index(spark, values, p):
    import math

    from vmware_graph_spark.functions.sketch import disc_percentile

    df = spark.createDataFrame([("g", float(v)) for v in values], "g string, v double")
    got = disc_percentile(df, ["g"], "v", [p], ["q"]).collect()[0]["q"]
    want = sorted(values)[max(1, math.ceil(p * len(values))) - 1]
    assert got == want


@PROP
@given(
    st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=30),
    st.integers(min_value=1, max_value=8),
    st.integers(min_value=1, max_value=8),
)
def test_chunking_covers_every_token_exactly(spark, tok_counts, size, stride):
    """Invariants for any stride ≤ size: chunk starts are multiples of
    stride; every token of every doc appears in ≥1 chunk; no chunk
    exceeds ``size`` tokens; concatenating stride-prefixes of the
    chunks reconstructs the document. (stride > size is rejected by the
    operator — gapped coverage would silently drop tokens.)"""
    from hypothesis import assume

    from vmware_graph_spark.operators.quality import chunk_documents

    assume(stride <= size)
    rows = [
        (i, " ".join(f"t{i}_{j}" for j in range(n))) for i, n in enumerate(tok_counts)
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    got = chunk_documents(df, "id", "text", size=size, stride=stride).collect()
    by_doc: dict[int, list] = {}
    for r in got:
        assert 1 <= r["chunk_n_tok"] <= size
        by_doc.setdefault(r["id"], []).append(r)
    for i, n in enumerate(tok_counts):
        chunks = sorted(by_doc.get(i, []), key=lambda r: r["chunk_id"])
        if n == 0:
            assert not chunks
            continue
        # chunk c starts at c*stride; stride-prefix concat == document
        rebuilt = []
        for r in chunks:
            toks = r["chunk_text"].split(" ")
            assert len(toks) == r["chunk_n_tok"]
            rebuilt.extend(toks[:stride])
        assert rebuilt[:n] == [f"t{i}_{j}" for j in range(n)]
        covered = set()
        for r in chunks:
            start = r["chunk_id"] * stride
            covered.update(range(start, start + r["chunk_n_tok"]))
        assert covered == set(range(n))


words = st.sampled_from(["alpha", "beta", "gamma", "delta", "nav", "bar", "x"])
docs_strategy = st.lists(
    st.lists(words, min_size=0, max_size=12).map(" ".join),
    min_size=1,
    max_size=12,
)


@PROP
@given(docs_strategy)
def test_dedup_lines_invariants(spark, texts):
    from vmware_graph_spark.functions.text import tokens
    from vmware_graph_spark.operators.quality import dedup_lines

    df = spark.createDataFrame(list(enumerate(texts)), ["id", "text"])
    out = dedup_lines(df, "id", "text", line_tokens=2, min_docs=2).withColumn(
        "kept_tok", F.size(tokens("kept_text"))
    )
    for r in out.collect():
        # kept lines are a subset, and the reassembled text carries
        # exactly the kept lines' tokens (nothing invented or lost)
        assert 0 <= r.n_kept <= r.n_lines
        toks = [t for t in texts[r.id].split() if t]
        assert r.kept_tok <= len(toks)
        if r.n_kept == r.n_lines:  # nothing removed → full reconstruction
            assert r.kept_text == " ".join(toks)
    # min_docs=1 marks every line boilerplate → nothing survives
    all_gone = dedup_lines(df, "id", "text", line_tokens=2, min_docs=1)
    assert all(r.n_kept == 0 for r in all_gone.collect())


@PROP
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=12).map(" ".join),
        min_size=1,
        max_size=20,
    )
)
def test_token_entropy_matches_reference_formula(spark, tmp_path_factory, texts):
    """Engine entropy == a direct Python recomputation (Σ −p·log2 p),
    within the decimal-fold rounding, for arbitrary token multisets;
    permutation-invariant by construction of the formula."""
    import math
    from collections import Counter

    from vmware_graph_spark.queries_ext19 import token_entropy_quality

    rows = [(i, t, "s") for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    import os

    sf = str(tmp_path_factory.mktemp("vgs_prop_ent_"))
    df.write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    out = {r.doc_id: r.entropy for r in token_entropy_quality(spark, sf).collect()}
    for i, t in enumerate(texts):
        c = Counter(t.split())
        n = sum(c.values())
        want = -sum((v / n) * math.log2(v / n) for v in c.values())
        assert abs(out[i] - want) < 1e-5, (t, out[i], want)


@PROP
@given(st.integers(min_value=0, max_value=2**31 - 1), st.integers(1, 40))
def test_packing_plan_bucket_arithmetic(spark, tmp_path_factory, seed, n_docs):
    """Per-bucket invariants hold for arbitrary token-count multisets:
    every doc's count fits [2^k, 2^(k+1)), padding_frac in [0, 1),
    batches cover the docs."""
    import os

    from vmware_graph_spark.queries_ext19 import length_bucket_packing_plan

    counts = [((seed * 31 + i * 977) % 4000) + 1 for i in range(n_docs)]
    rows = [(i, " ".join(["w"] * c), "s") for i, c in enumerate(counts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    sf = str(tmp_path_factory.mktemp("vgs_prop_pack_"))
    df.write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    out = length_bucket_packing_plan(spark, sf).collect()
    assert sum(r.n_docs for r in out) == n_docs
    assert sum(r.total_tokens for r in out) == sum(counts)
    for r in out:
        # all docs in the bucket fit under the padded length
        assert r.total_tokens < r.n_docs * r.seq_len
        assert r.total_tokens >= r.n_docs * (r.seq_len // 2)
        docs_per_batch = max(4096 // r.seq_len, 1)
        assert r.n_batches == -(-r.n_docs // docs_per_batch)


@PROP
@given(
    st.lists(
        st.tuples(st.integers(-1000, 1000), st.booleans()),
        min_size=1,
        max_size=120,
    ),
    st.integers(2, 16),
)
def test_exact_global_rank_matches_window_on_random_data(spark, rows, buckets):
    """exact_global_rank == row_number() OVER (ORDER BY v, tid) for any
    data (duplicates, skew, negative values) and any bucket count."""
    from pyspark.sql import Window

    from vmware_graph_spark.operators.rank import exact_global_rank

    df = spark.createDataFrame(
        [(float(v), i) for i, (v, _) in enumerate(rows)], "v double, tid long"
    )
    got = {
        (r.tid, r.rank)
        for r in exact_global_rank(df, ["v", "tid"], buckets=buckets).collect()
    }
    want = {
        (r.tid, r.rank)
        for r in df.withColumn(
            "rank", F.row_number().over(Window.orderBy("v", "tid"))
        ).collect()
    }
    assert got == want


@PROP
@given(
    st.lists(
        st.tuples(st.integers(-50, 50), st.booleans()),
        min_size=1,
        max_size=120,
    ),
    st.integers(2, 16),
)
def test_bucketed_carry_matches_global_windows_on_random_data(spark, rows, buckets):
    """bucketed_carry == global last/first IGNORE NULLS for any tag
    density (including none and all) and any bucket count."""
    from pyspark.sql import Window

    from vmware_graph_spark.operators.rank import bucketed_carry

    df = spark.createDataFrame(
        [(float(v), i, i if tag else None) for i, (v, tag) in enumerate(rows)],
        "v double, tid long, tag long",
    )
    got = {
        (r.tid, r.prev_tag, r.next_tag)
        for r in bucketed_carry(df, ["v", "tid"], ["tag"], buckets=buckets).collect()
    }
    wb = Window.orderBy("v", "tid").rowsBetween(Window.unboundedPreceding, -1)
    wf = Window.orderBy("v", "tid").rowsBetween(1, Window.unboundedFollowing)
    want = {
        (r.tid, r.prev_tag, r.next_tag)
        for r in df.select(
            "tid",
            F.last("tag", ignorenulls=True).over(wb).alias("prev_tag"),
            F.first("tag", ignorenulls=True).over(wf).alias("next_tag"),
        ).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# SQL-string identifier escaping (round-7 VERDICT "what's wrong" #3 /
# round-8 directive): the merge helpers build their expressions as SQL
# strings with _bt-backticked identifiers. Adversarial column names —
# backticks, quotes, newlines, '--' comment starters, '#', spaces, dots
# — must round-trip with semantics identical to the column-object
# forms, or fail loudly; they must never be silently mis-parsed.
# ---------------------------------------------------------------------------

# Spark's parser rejects NUL and (in unquoted contexts) nothing else
# matters: inside backticks every char except the backtick itself (which
# _bt doubles) is literal. Build names from a hostile alphabet.
def _nsort(rows_iter):
    """Sort row tuples with None-safe ordering."""
    return sorted(
        map(tuple, rows_iter), key=lambda t: tuple((v is None, v) for v in t)
    )


_hostile_char = st.sampled_from(list("`'\"\n;- #.$%()[]{}|\\/abcXYZ09é"))
_hostile_name = st.text(alphabet=_hostile_char, min_size=1, max_size=12).filter(
    lambda s: s.strip() != ""
)


@PROP
@given(
    st.lists(_hostile_name, min_size=2, max_size=4, unique=True),
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 3)),
            st.one_of(st.none(), st.integers(0, 3)),
        ),
        min_size=1,
        max_size=12,
    ),
)
def test_merge_helpers_escape_hostile_column_names(spark, names, rows):
    """_drop_null_keys and _pick over hostile identifiers
    behave exactly like the column-object logic run on a sanitized-name
    TWIN of the same data (the twin never parses a hostile name, so it
    is a pure-semantics reference)."""
    from vmware_graph_spark.operators.merge import (
        _PICK,
        _drop_null_keys,
        _pick,
    )

    key, vals = names[0], names[1:]
    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType(
        [StructField(key, IntegerType(), True)]
        + [StructField(v, IntegerType(), True) for v in vals]
    )
    data = [(a, *([b] * len(vals))) for a, b in rows]
    df = spark.createDataFrame(data, schema)
    safe = spark.createDataFrame(
        data, "k int, " + ", ".join(f"v{i} int" for i in range(len(vals)))
    )

    got = _nsort(_drop_null_keys(df, [key]).collect())
    want = _nsort(safe.filter(F.col("k").isNotNull()).collect())
    assert got == want

    got2 = _nsort(_pick([df], [key]).collect())
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy(
        *[F.col(f"v{i}").asc_nulls_last() for i in range(len(vals))]
    )
    want2 = _nsort(
        safe.filter(F.col("k").isNotNull())
        .withColumn(_PICK, F.row_number().over(w))
        .filter(F.col(_PICK) == 1)
        .drop(_PICK)
        .collect()
    )
    assert got2 == want2
    # a run of frames goes through the tagged union's projections
    assert _nsort(_pick([df, df], [key]).collect()) == want2


@PROP
@given(
    _hostile_name,
    st.lists(
        st.tuples(st.text(max_size=4), st.text(max_size=4), st.booleans()),
        min_size=1,
        max_size=10,
    ),
)
def test_canonical_edges_hostile_prop_column(spark, prop_name, rows):
    """canonical_edges passes extra prop columns through _bt: a hostile
    prop-column name must survive the selectExpr untouched, and the
    swap semantics must match a column-object reference."""
    from vmware_graph_spark.operators.merge import canonical_edges

    from pyspark.sql.types import BooleanType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("src_label", StringType(), True),
            StructField("src_key", StringType(), True),
            StructField("rel_type", StringType(), True),
            StructField("dst_label", StringType(), True),
            StructField("dst_key", StringType(), True),
            StructField(prop_name, BooleanType(), True),
        ]
    )
    data = [("L" + a, "k" + a, "T", "L" + b, "k" + b, p) for a, b, p in rows]
    df = spark.createDataFrame(data, schema)
    safe = spark.createDataFrame(
        data,
        "src_label string, src_key string, rel_type string,"
        " dst_label string, dst_key string, p boolean",
    )

    got = _nsort(canonical_edges(df, ["T"]).collect())

    swap = F.struct("dst_label", "dst_key") < F.struct("src_label", "src_key")
    want = _nsort(
        safe.select(
            F.when(swap, F.col("dst_label")).otherwise(F.col("src_label")).alias("src_label"),
            F.when(swap, F.col("dst_key")).otherwise(F.col("src_key")).alias("src_key"),
            F.col("rel_type"),
            F.when(swap, F.col("src_label")).otherwise(F.col("dst_label")).alias("dst_label"),
            F.when(swap, F.col("src_key")).otherwise(F.col("dst_key")).alias("dst_key"),
            F.col("p"),
        ).collect()
    )
    assert got == want


@PROP
@given(
    st.lists(_hostile_name, min_size=2, max_size=3, unique=True),
    st.lists(
        st.tuples(st.one_of(st.none(), st.text(max_size=3)),
                  st.one_of(st.none(), st.text(max_size=3))),
        min_size=1,
        max_size=10,
    ),
)
def test_key_sql_matches_node_key_on_hostile_names(spark, names, rows):
    """store.graph._key_sql (the selectExpr twin of store.node_key)
    must produce node_key's exact null-propagating concat semantics for
    ANY sheet column name — RVTools headers already carry spaces, '#'
    and parens; this pins backtick escaping for the rest."""
    from vmware_graph_spark.store.graph import _key_sql, node_key

    a, b = names[0], names[1]
    from pyspark.sql.types import StringType, StructField, StructType

    df = spark.createDataFrame(
        [(x, y) for x, y in rows],
        StructType([StructField(a, StringType(), True),
                    StructField(b, StringType(), True)]),
    )
    safe = spark.createDataFrame([(x, y) for x, y in rows], "x string, y string")

    got1 = [r[0] for r in df.selectExpr(f"{_key_sql(a)} AS k").collect()]
    want1 = [r[0] for r in safe.select(node_key("x").alias("k")).collect()]
    assert got1 == want1

    got2 = [r[0] for r in df.selectExpr(f"{_key_sql(a, b)} AS k").collect()]
    want2 = [r[0] for r in safe.select(node_key("x", "y").alias("k")).collect()]
    assert got2 == want2


# Cell text for the OOXML roundtrip: any printable-ish unicode WITHOUT
# carriage returns (XML 1.0 parsing normalizes \r\n -> \n by spec, so a
# CR can never roundtrip through any conformant reader) and without
# other C0 controls (not representable in XML 1.0 at all).
_XLSX_CELL = st.text(
    st.characters(
        blacklist_categories=("Cs", "Cc"),
        # XML-active characters stay IN: escaping them is the point
    ),
    min_size=0,
    max_size=24,
)


@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    header=st.lists(
        st.text(st.characters(blacklist_categories=("Cs", "Cc")), min_size=1, max_size=12),
        min_size=1,
        max_size=5,
        unique=True,
    ),
    rows=st.lists(
        st.lists(st.one_of(st.none(), _XLSX_CELL), min_size=1, max_size=5),
        min_size=1,
        max_size=6,
    ),
)
def test_write_xlsx_parse_xlsx_roundtrip(tmp_path_factory, header, rows):
    """The round-9 fleet-fixture writer (tools/xlsx_scalebench.write_xlsx)
    and the stdlib reader (sources/workbook.parse_xlsx) roundtrip
    arbitrary XML-hostile cell text (&, <, >, quotes, unicode): what the
    scalebench writes is exactly what the production reader hands the
    ingest stages — sparse None cells come back None (right-truncation
    collapses with row width), everything else verbatim."""
    import importlib.util
    import os as _os

    spec = importlib.util.spec_from_file_location(
        "xlsx_scalebench",
        _os.path.join(_os.path.dirname(__file__), "..", "tools", "xlsx_scalebench.py"),
    )
    xsb = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(xsb)
    from vmware_graph_spark.sources.workbook import parse_xlsx

    width = len(header)
    rows = [(r + [None] * width)[:width] for r in rows]
    p = str(tmp_path_factory.mktemp("xlsxprop") / "wb.xlsx")
    xsb.write_xlsx(p, {"vInfo": (header, rows)})
    with open(p, "rb") as f:
        parsed = parse_xlsx(f.read(), ("vInfo",))
    got_header, got_rows = parsed["vInfo"]
    # the reader dedupes/fills header names only for duplicates/None —
    # unique non-null headers must come back verbatim
    assert got_header == header
    assert len(got_rows) == len(rows)
    for exp, got in zip(rows, got_rows):
        assert got == [None if v is None else str(v) for v in exp]
