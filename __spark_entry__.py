"""Driver contract for the kgpipe PySpark engine.

`entry(spark)` runs the flagship mini KG pipeline on sf0.001.
`queries()` holds the KG queries (NT parse and aggregates over it,
abbreviate, framed roundtrip, CURIE expand, k-hop, PageRank,
connected components, HTML extract) as (spark, sf_dir) callables over
the `documents` table;
`oracle_sql()` gives the DuckDB-equivalent SQL the driver compares
against at sf0.01 (row count + schema + order-insensitive value
hash). Every query has an oracle.

Column names are aliased identically on both sides (driver sorts
columns by name before hashing).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

# ---------------------------------------------------------------------------
# shared builders
# ---------------------------------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _nt_uri_lines(docs: DataFrame) -> DataFrame:
    """Deterministic NT carrier with abbreviatable URIs:
    <gnd/{id%50}> <rdf#type> <dbpedia Entity{id}> ."""
    line = F.concat(
        F.lit("<http://d-nb.info/gnd/"), (F.col("doc_id") % 50).cast("string"),
        F.lit("> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> "
              "<http://dbpedia.org/resource/Entity"),
        F.col("doc_id").cast("string"),
        F.lit("> ."),
    )
    return docs.select("doc_id", line.alias("line"))


def _doc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic doc-id edge set of the graph queries:
    i→i+7 ∪ i→3i, as (src, dst)."""
    d = _docs(spark, sf_dir).select(F.col("doc_id"))
    return d.select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 7).alias("dst")
    ).union(
        d.select(F.col("doc_id").alias("src"), (F.col("doc_id") * 3).alias("dst"))
    )


def _parse_docs_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse each document's text as one NT line (ntto semantics:
    any whitespace-tokenized line is parseable). Rows with <3 tokens
    are quarantined; the query returns clean rows only."""
    from kgpipe.operators.parse import parse_text_column

    docs = _docs(spark, sf_dir)
    parsed = parse_text_column(docs.withColumnRenamed("text", "line"), "line", ["doc_id"])
    return parsed.where(F.col("error").isNull()).select("doc_id", "s", "p", "o")


# SQL twin of the compat parser over a one-line text column
# (mirrors /root/reference/common.go:41-66; see kgpipe/nt/parser.py)
_PARSE_SQL_CTE = r"""
with t as (
  select doc_id, trim(text) as line,
         regexp_split_to_array(trim(text), '\s+') as w
  from documents
), p as (
  select doc_id, line, w, len(w) as n from t
)
select doc_id,
  trim(w[1], '<>"') as s,
  trim(w[2], '<>"') as p,
  trim(case when n <= 4 then w[3]
            when ends_with(line, '.') then array_to_string(w[3:n-1], ' ')
            else array_to_string(w[3:n], ' ') end, '<>"') as o
from p where n >= 3
"""


# SQL twin of _doc_edges as (s, t), opening a `with` list
_DOC_EDGES_CTE = """
with d as (select doc_id from documents),
e as (
  select doc_id as s, doc_id + 7 as t from d
  union all
  select doc_id as s, doc_id * 3 as t from d
),"""


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_nt_parse(spark, sf_dir):
    return _parse_docs_text(spark, sf_dir)


def q_nt_parse_abbrev(spark, sf_dir):
    """Full parse+abbreviate path on constructed URI lines: the real
    mapInPandas parser + broadcast LPM trie."""
    from kgpipe.fixtures import RULES_16_TEXT
    from kgpipe.nt.rules import parse_rules
    from kgpipe.operators.abbrev import abbreviate_columns
    from kgpipe.operators.parse import parse_text_column

    lines = _nt_uri_lines(_docs(spark, sf_dir))
    parsed = parse_text_column(lines, "line", ["doc_id"]).where(F.col("error").isNull())
    abbr = abbreviate_columns(parsed, ["s", "p", "o"], parse_rules(RULES_16_TEXT), mode="lpm")
    return abbr.select("doc_id", "s", "p", "o")


def q_nt_framed_roundtrip(spark, sf_dir):
    """Framed parse → byte reconstruction, driver-gated: parse each
    document's text as an NT line CAPTURING the framing the parse
    strips (kgpipe.nt.parser.FRAME_COLS — the columns behind the
    byte-compat parsed NT sink, operators/sinks.py write_nt), then
    rebuild the line from parsed terms + frames. The oracle computes
    the whitespace-normalized input line independently in SQL, so a
    value-hash match proves the sink's reconstruction invariant
    (pre+term+suf rejoin + verbatim dropped-tail reappend ≡ the
    normalized source bytes) on the driver's own data. Ref: ntto -a
    writes raw substituted lines, cmd/ntto/ntto.go:144-158."""
    from kgpipe.operators.parse import parse_text_column
    from kgpipe.operators.sinks import framed_line_expr

    docs = _docs(spark, sf_dir)
    parsed = parse_text_column(
        docs.withColumnRenamed("text", "line"), "line", ["doc_id"], with_frames=True
    ).where(F.col("error").isNull())
    return parsed.select("doc_id", framed_line_expr().alias("line"))


def q_curie_roundtrip(spark, sf_dir):
    """Abbreviate → EXPAND roundtrip, oracle-gated: LPM-abbreviate
    parsed IRIs to CURIEs, expand them back through the inverse map
    (operators/abbrev.expand_curie_expr — the reference only shrinks,
    README.md:6-9; consumers need resolvable IRIs back), and return
    the result. The oracle constructs the ORIGINAL full IRIs
    directly, so a hash match proves expand(abbrev_lpm(x)) == x on
    the fixture rule table (unique shortcuts ⇒ lossless)."""
    from kgpipe.fixtures import RULES_16_TEXT
    from kgpipe.nt.rules import parse_rules
    from kgpipe.operators.abbrev import abbreviate_columns, expand_columns
    from kgpipe.operators.parse import parse_text_column

    rules = parse_rules(RULES_16_TEXT)
    lines = _nt_uri_lines(_docs(spark, sf_dir))
    parsed = parse_text_column(lines, "line", ["doc_id"]).where(F.col("error").isNull())
    abbr = abbreviate_columns(parsed, ["s", "p", "o"], rules, mode="lpm")
    full = expand_columns(abbr, ["s", "p", "o"], rules)
    return full.select("doc_id", "s", "p", "o")


def q_khop_2(spark, sf_dir):
    """Graph traversal (operators/graph.khop_frontier): 2-hop BFS
    frontier with minimum hop distances over a deterministic edge
    set derived from doc ids (i→i+7 and i→3i), seeds = every 100th
    doc. Iterative join + visited anti-join per hop, frontier
    checkpointed."""
    from kgpipe.operators.graph import khop_frontier

    d = _docs(spark, sf_dir).select(F.col("doc_id"))
    seeds = d.where(F.col("doc_id") % 100 == 0).select(F.col("doc_id").alias("node"))
    return khop_frontier(_doc_edges(spark, sf_dir), seeds, k=2)


def q_pagerank_3(spark, sf_dir):
    """Iterative-algorithm category beyond connected components:
    3-iteration PageRank (operators/graph.pagerank) over the same
    deterministic doc-id edge set as khop_2. Per-iteration rounding
    (12dp) makes ranks engine-exact, so the unrolled 3-CTE DuckDB
    oracle hash-matches; final ranks rounded to 6dp."""
    from kgpipe.operators.graph import pagerank

    pr = pagerank(_doc_edges(spark, sf_dir), n_iter=3)
    return pr.select("node", F.round(F.col("pr"), 6).alias("pr"))


def q_abbrev_compat_lines(spark, sf_dir):
    """The `ntto -a` surface: raw-line compat abbreviation through the
    compiled single-pass trie engine (kgpipe.nt.rules), over the full
    223-rule DefaultRules table. The oracle is an independently
    generated chain of 223 nested literal replace() calls in DuckDB —
    the sequential reference semantics spelled out rule by rule — so
    the single-pass compilation is value-gated end to end."""
    from kgpipe.nt.default_rules import DEFAULT_RULES_TEXT
    from kgpipe.nt.rules import parse_rules
    from kgpipe.operators.abbrev import abbreviate_lines

    lines = _nt_uri_lines(_docs(spark, sf_dir)).withColumnRenamed("line", "value")
    out = abbreviate_lines(lines, parse_rules(DEFAULT_RULES_TEXT), line_col="value")
    return out.select("doc_id", F.col("value").alias("abbrev_line"))


def _abbrev_compat_oracle_sql() -> str:
    """Build the DuckDB oracle for q_abbrev_compat_lines: the same
    line constructor as _nt_uri_lines, pushed through one literal
    replace() per rule IN RULE ORDER (DuckDB replace is literal,
    exactly the reference's sequential substitution)."""
    from kgpipe.nt.default_rules import DEFAULT_RULES_TEXT
    from kgpipe.nt.rules import parse_rules

    rules = parse_rules(DEFAULT_RULES_TEXT)
    base = (
        "'<http://d-nb.info/gnd/' || cast(doc_id % 50 as varchar) || "
        "'> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> "
        "<http://dbpedia.org/resource/Entity' || cast(doc_id as varchar) || '> .'"
    )
    # DuckDB's binder recursion cap (~128) can't take 223 nested
    # calls — chunk the rule order into chained CTE stages, 60 deep
    # each; sequential order is preserved across stages
    chunk = 60
    ctes = [f"s0 as (select doc_id, {base} as v from documents)"]
    for ci in range(0, len(rules), chunk):
        expr = "v"
        for r in rules[ci : ci + chunk]:
            pfx = r.prefix.replace("'", "''")
            rep = (r.shortcut + ":").replace("'", "''")
            expr = f"replace({expr}, '{pfx}', '{rep}')"
        ctes.append(
            f"s{len(ctes)} as (select doc_id, {expr} as v from s{len(ctes) - 1})"
        )
    return (
        "with " + ", ".join(ctes)
        + f" select doc_id, v as abbrev_line from s{len(ctes) - 1}"
    )


def q_top_predicates(spark, sf_dir):
    t = _parse_docs_text(spark, sf_dir)
    return (
        t.groupBy("p")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("p").asc())
        .limit(20)
    )


def q_triples_distinct(spark, sf_dir):
    return _parse_docs_text(spark, sf_dir).select("s", "p", "o").distinct()


def q_sameas_canonical(spark, sf_dir):
    """Connected components (real large/small-star) over a closed-form
    edge set: doc i ↔ doc i%100 ⇒ canon(uri_i) = uri_{i%100}."""
    from kgpipe.operators.cc import canonical_map_for_nodes

    docs = _docs(spark, sf_dir)
    uri = F.concat(F.lit("http://ex.org/e/"), F.lpad(F.col("doc_id").cast("string"), 6, "0"))
    nodes = docs.select(uri.alias("uri"))
    edges = docs.where(F.col("doc_id") >= 100).select(
        uri.alias("src"),
        F.concat(
            F.lit("http://ex.org/e/"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 6, "0"),
        ).alias("dst"),
    )
    return canonical_map_for_nodes(nodes, edges).select("uri", "canon_id")


def q_extract_html(spark, sf_dir):
    """Real HTML extractor over synthesized pages; oracle constructs
    the expected text directly from the template."""
    from kgpipe.operators.extract import with_extracted_text

    docs = _docs(spark, sf_dir).where(F.length(F.trim("text")) > 0)
    html = F.concat(
        F.lit("<html><head><title>Doc "), F.col("doc_id").cast("string"),
        F.lit("</title></head><body><p>"), F.col("text"),
        F.lit("</p></body></html>"),
    ).cast("binary")
    pages = docs.select(F.col("doc_id"), html.alias("html"))
    return with_extracted_text(pages).select("doc_id", "text")


# ---------------------------------------------------------------------------
# contract functions
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: mini KG pipeline over sf0.001 — construct NT carrier
    from documents, parse with the compat parser, abbreviate via the
    broadcast LPM trie, aggregate predicates."""
    sf_dir = "/root/testdata/sf0.001"
    df = q_nt_parse_abbrev(spark, sf_dir)
    return (
        df.groupBy("p")
        .agg(F.count(F.lit(1)).alias("n_triples"), F.countDistinct("s").alias("n_subjects"))
        .orderBy(F.col("n_triples").desc(), F.col("p").asc())
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "nt_parse": q_nt_parse,
        "nt_parse_abbrev": q_nt_parse_abbrev,
        "nt_framed_roundtrip": q_nt_framed_roundtrip,
        "curie_roundtrip": q_curie_roundtrip,
        "khop_2": q_khop_2,
        "pagerank_3": q_pagerank_3,
        "abbrev_compat_lines": q_abbrev_compat_lines,
        "top_predicates": q_top_predicates,
        "triples_distinct": q_triples_distinct,
        "sameas_canonical": q_sameas_canonical,
        "extract_html": q_extract_html,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "nt_parse": _PARSE_SQL_CTE,
        "nt_parse_abbrev": """
            select doc_id,
                   'gnd:' || cast(doc_id % 50 as varchar) as s,
                   'rdf:type' as p,
                   'dbp:Entity' || cast(doc_id as varchar) as o
            from documents
        """,
        "abbrev_compat_lines": _abbrev_compat_oracle_sql(),
        "curie_roundtrip": """
            select doc_id,
                   'http://d-nb.info/gnd/' || cast(doc_id % 50 as varchar) as s,
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' as p,
                   'http://dbpedia.org/resource/Entity' || cast(doc_id as varchar) as o
            from documents
        """,
        "khop_2": _DOC_EDGES_CTE + """
            h0 as (select distinct doc_id as node from d where doc_id % 100 = 0),
            h1 as (
              select distinct e.t as node from e join h0 on e.s = h0.node
              where e.t not in (select node from h0)
            ),
            h2 as (
              select distinct e.t as node from e join h1 on e.s = h1.node
              where e.t not in (select node from h0)
                and e.t not in (select node from h1)
            )
            select node, 0 as hops from h0
            union all select node, 1 as hops from h1
            union all select node, 2 as hops from h2
        """,
        "pagerank_3": _DOC_EDGES_CTE + """
            nodes as (
              select distinct node from (
                select s as node from e union all select t as node from e
              )
            ),
            nn as (select count(*)::DOUBLE as n from nodes),
            od as (select s, count(*) as od from e group by s),
            r0 as (
              select node, round(1.0 / nn.n, 12) as pr
              from nodes cross join nn
            ),
            c1 as (
              select e.t as node, sum(r0.pr / od.od) as cs
              from e join r0 on e.s = r0.node join od on e.s = od.s
              group by e.t
            ),
            r1 as (
              select nodes.node,
                     round(0.15 / nn.n + 0.85 * coalesce(c1.cs, 0), 12) as pr
              from nodes left join c1 on nodes.node = c1.node cross join nn
            ),
            c2 as (
              select e.t as node, sum(r1.pr / od.od) as cs
              from e join r1 on e.s = r1.node join od on e.s = od.s
              group by e.t
            ),
            r2 as (
              select nodes.node,
                     round(0.15 / nn.n + 0.85 * coalesce(c2.cs, 0), 12) as pr
              from nodes left join c2 on nodes.node = c2.node cross join nn
            ),
            c3 as (
              select e.t as node, sum(r2.pr / od.od) as cs
              from e join r2 on e.s = r2.node join od on e.s = od.s
              group by e.t
            ),
            r3 as (
              select nodes.node,
                     round(0.15 / nn.n + 0.85 * coalesce(c3.cs, 0), 12) as pr
              from nodes left join c3 on nodes.node = c3.node cross join nn
            )
            select node, round(pr, 6) as pr from r3
        """,
        "nt_framed_roundtrip": r"""
            -- trim over the full whitespace alphabet: DuckDB's
            -- 1-arg trim strips spaces only, while the parser's
            -- Python .strip() takes tabs/newlines too
            with t as (
              select doc_id,
                     regexp_split_to_array(
                       trim(text, ' ' || chr(9) || chr(10) || chr(13) ||
                                  chr(11) || chr(12)),
                       '\s+') as w
              from documents
            )
            select doc_id, array_to_string(w, ' ') as line
            from t where len(w) >= 3
        """,
        "top_predicates": f"""
            with parsed as ({_PARSE_SQL_CTE})
            select p, count(*) as n from parsed
            group by p order by n desc, p asc limit 20
        """,
        "triples_distinct": f"""
            with parsed as ({_PARSE_SQL_CTE})
            select distinct s, p, o from parsed
        """,
        "sameas_canonical": """
            select 'http://ex.org/e/' || lpad(cast(doc_id as varchar), 6, '0') as uri,
                   'http://ex.org/e/' || lpad(cast(doc_id % 100 as varchar), 6, '0') as canon_id
            from documents
        """,
        "extract_html": """
            select doc_id, 'Doc ' || cast(doc_id as varchar) || chr(10) || trim(text) as text
            from documents where length(trim(text)) > 0
        """,
    }
