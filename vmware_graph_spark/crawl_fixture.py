"""Shared crawl-family fixture helpers: the synthetic HTML page
template, its Catalyst/SQL builders, the ground-truth extraction
oracle, and the WARC fleet synthesizer.

Lives OUTSIDE the queries_ext* modules so that several of them can
share the fixture without importing each other — queries.py imports
every queries_ext* module at its tail, so a cross-ext import is a
latent circular import whose failure depends on which module a caller
imports first (round-10 review finding). This module imports nothing
from the registry.

The template is a single line with no apostrophes (embeds in
single-quoted SQL verbatim) and exercises every extraction rule: a
DOCTYPE, a comment CONTAINING tags, script/style blocks whose content
must not leak (the script even contains a '<div>' literal and a bare
'<'), and the classic entities with &amp; in decode-last position.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from vmware_graph_spark import commit
from vmware_graph_spark.sources.tables import load_table
from vmware_graph_spark.tmpcache import cache_dir, data_key

_P1 = "<!DOCTYPE html><html><head><title>Doc "
_P2 = (
    '</title><style>body { color: #fff; }</style>'
    '<script type="text/javascript">var s = "<div>" && 1 < 2;</script>'
    "</head><body><!-- crawl <b>"
)
_P3 = "</b> --><h1>Doc &quot;"
_P4 = "&quot; &amp; more</h1><p>"
_P5 = '</p><div class="tail">tail&nbsp;'
_P6 = "</div></body></html>"

#: Ground-truth plain text of the template (before whitespace collapse
#: of the riding document text): what a CORRECT extractor must emit.
_EXPECTED_PREFIX = "Doc "  # Doc {id} Doc "{id}" & more {text} tail {n_chars}

_N_SHARDS = 8


def _html_page(doc_id: int, text: str, n_chars: int) -> str:
    return f"{_P1}{doc_id}{_P2}{doc_id}{_P3}{doc_id}{_P4}{text}{_P5}{n_chars}{_P6}"


def _html_col():
    """The same page as a Catalyst concat over documents columns."""
    i = F.col("doc_id").cast("string")
    return F.concat(
        F.lit(_P1), i, F.lit(_P2), i, F.lit(_P3), i, F.lit(_P4),
        F.col("text"), F.lit(_P5), F.col("n_chars").cast("string"), F.lit(_P6),
    )


def _html_sql(id_expr: str = "doc_id", text_expr: str = "text", nchars_expr: str = "n_chars") -> str:
    """The same page as a DuckDB concat (template has no apostrophes)."""
    return (
        "('" + _P1 + "' || " + id_expr + " || '" + _P2 + "' || " + id_expr
        + " || '" + _P3 + "' || " + id_expr + " || '" + _P4 + "' || " + text_expr
        + " || '" + _P5 + "' || " + nchars_expr + " || '" + _P6 + "')"
    )


def _expected_text_sql() -> str:
    """Ground-truth extraction, built from the SOURCE columns — not by
    running the regex twin — so the oracle pins INTENT, independent of
    the implementation. The final collapse also normalizes any
    whitespace runs inside the riding document text, exactly as the
    extractor's last step does."""
    raw = (
        "('Doc ' || doc_id || ' Doc \"' || doc_id || '\" & more ' || text"
        " || ' tail ' || n_chars)"
    )
    return rf"trim(regexp_replace({raw}, '\s+', ' ', 'g'))"


def _status_case_sql() -> str:
    return "CASE WHEN doc_id % 53 = 0 THEN 404 ELSE 200 END"


def _warc_fixture_dir(spark, sf_dir: str) -> str:
    """Synthesize the WARC fleet once per (dataset, mtime): _N_SHARDS
    archives, each holding a warcinfo record (the reader must skip it)
    plus one HTTP response per document (deterministic shard/order,
    a 404 every 53rd doc, tracking params on every URI)."""
    root = cache_dir("warc_fleet", data_key(sf_dir, "documents"))
    if commit.marked(root):
        return root

    from vmware_graph_spark.sources.warc import write_warc_files

    rows = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "n_chars")
        .toPandas()
        .sort_values("doc_id")
    )
    shards: dict[str, list[dict]] = {f"shard_{i}": [] for i in range(_N_SHARDS)}
    for did, text, nc in zip(rows["doc_id"], rows["text"], rows["n_chars"]):
        did, nc = int(did), int(nc)
        shards[f"shard_{did % _N_SHARDS}"].append(
            {
                "uri": (
                    f"http://www.site{did % 5}.example.com/docs/{did}"
                    "?utm_source=crawler"
                ),
                "status": 404 if did % 53 == 0 else 200,
                "body": _html_page(did, text, nc).encode("utf-8"),
            }
        )
    write_warc_files(shards, root)
    commit.mark(root, {"kind": "warc_fleet"})
    return root
