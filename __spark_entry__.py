"""Driver contract for the kgpipe PySpark engine.

`entry(spark)` runs the flagship mini KG pipeline on sf0.001.
`queries()` exposes every SURVEY.md §2 operator as a (spark, sf_dir)
callable; `oracle_sql()` gives the DuckDB-equivalent SQL the driver
compares against at sf0.01 (row count + schema + order-insensitive
value hash). Every query has an oracle.

Column names are aliased identically on both sides (driver sorts
columns by name before hashing).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

RULES_DDL_PATH = None  # rules are embedded (kgpipe.fixtures.RULES_16_TEXT)

# ---------------------------------------------------------------------------
# shared builders
# ---------------------------------------------------------------------------

_TITLE_P = "http://purl.org/dc/elements/1.1/title"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


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
    edges = d.select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 7).alias("dst")
    ).union(
        d.select(F.col("doc_id").alias("src"), (F.col("doc_id") * 3).alias("dst"))
    )
    seeds = d.where(F.col("doc_id") % 100 == 0).select(F.col("doc_id").alias("node"))
    return khop_frontier(edges, seeds, k=2)


def q_pagerank_3(spark, sf_dir):
    """Iterative-algorithm category beyond connected components:
    3-iteration PageRank (operators/graph.pagerank) over the same
    deterministic doc-id edge set as khop_2. Per-iteration rounding
    (12dp) makes ranks engine-exact, so the unrolled 3-CTE DuckDB
    oracle hash-matches; final ranks rounded to 6dp."""
    from kgpipe.operators.graph import pagerank

    d = _docs(spark, sf_dir).select(F.col("doc_id"))
    edges = d.select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 7).alias("dst")
    ).union(
        d.select(F.col("doc_id").alias("src"), (F.col("doc_id") * 3).alias("dst"))
    )
    pr = pagerank(edges, n_iter=3)
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


# --- document-text queries: plain column expressions over `documents` --

def _doc_fingerprint(text):
    """md5 of the whitespace-normalized, lowercased text."""
    return F.md5(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")))


def _n_matches(text, pattern: str):
    return F.size(F.regexp_extract_all(text, F.lit(pattern), 0)).cast("long")


def _n_ws_tokens(text):
    return F.size(F.split(F.trim(text), r"\s+")).cast("long")


def q_exact_dedup_docs(spark, sf_dir):
    """One document per distinct fingerprint: the min doc_id."""
    docs = _docs(spark, sf_dir)
    keep = docs.groupBy(_doc_fingerprint(F.col("text"))).agg(F.min("doc_id").alias("doc_id"))
    return docs.join(keep, "doc_id", "left_semi").select("doc_id")


def q_doc_fingerprints(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", _doc_fingerprint(F.col("text")).alias("fingerprint")
    )


def q_winnowing_fps(spark, sf_dir, k=8, w=4):
    """Winnowing fingerprints: md5-hex of every char k-gram of the
    normalized text, minimum of each w-window of them, distinct per
    doc. The hash array sits in its own select under the explode, so
    it is evaluated once per row, not once per window."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(norm) - (k - 1), F.lit(1))),
        lambda i: F.md5(norm.substr(i, F.lit(k))),
    )
    hashed = _docs(spark, sf_dir).select("doc_id", hashes.alias("h"))
    mins = F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("h") - (w - 1), F.lit(1))),
        lambda j: F.array_min(F.slice(F.col("h"), j, w)),
    ))
    return hashed.select("doc_id", F.explode(mins).alias("fp"))


def q_token_counts(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id",
        _n_matches(F.col("text"), r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]").alias("n_bpe_tokens"),
        _n_ws_tokens(F.col("text")).alias("n_ws_tokens"),
    )


def q_quality_scores(spark, sf_dir):
    """Heuristic quality in [0, 1]: stopword ratio, punctuation
    penalty and length, rounded to 4dp."""
    text = F.col("text")
    n_tok = _n_ws_tokens(text)
    stop = _n_matches(F.lower(text), r"\b(the|and|of|to|a|in|is|it|that|for)\b")
    punct = _n_matches(text, r"[.,;:!?]")
    n_chars = F.greatest(F.length(text), F.lit(1)).cast("double")
    stop_ratio = F.least(stop / F.greatest(n_tok, F.lit(1)).cast("double"), F.lit(0.5)) / 0.5
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - (punct / n_chars) * 5.0)
    len_part = F.least(n_tok, F.lit(100)).cast("double") / 100.0
    quality = F.round(0.4 * stop_ratio + 0.3 * punct_pen + 0.3 * len_part, 4)
    return _docs(spark, sf_dir).select("doc_id", quality.alias("quality"))


def q_lang_id(spark, sf_dir):
    """Marker-word language id over {en, de, es, fr}; 'und' when no
    marker hits; ties go to the first language in that order."""
    lower = F.lower(F.col("text"))
    c = {
        lang: _n_matches(lower, rf"\b({words})\b")
        for lang, words in [
            ("en", "the|and|of|to|is|in"), ("de", "der|die|das|und|ist|nicht"),
            ("es", "el|la|los|de|que|es"), ("fr", "le|la|les|et|est|une"),
        ]
    }
    mx = F.greatest(*c.values())
    pred = F.when(mx == 0, F.lit("und"))
    for lang in ("en", "de", "es"):
        pred = pred.when(c[lang] == mx, F.lit(lang))
    return _docs(spark, sf_dir).select("doc_id", pred.otherwise(F.lit("fr")).alias("lang_pred"))


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


# --- generic operator coverage over the TPC-H-ish tables ---------------

def q_lineitem_agg(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_revenue_by_nation(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
             F.count(F.lit(1)).alias("n_orders"))
        .orderBy("n_name")
    )


def q_topk_orders_per_customer(spark, sf_dir):
    from pyspark.sql import Window

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "rk")
    )


def q_events_agg(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


def q_rollup_orders(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
             F.count(F.lit(1)).alias("n"))
    )


def q_pivot_order_status(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    statuses = ["O", "F", "P"]
    aggs = [
        F.round(F.sum(F.when(F.col("o_orderstatus") == s, F.col("o_totalprice")).otherwise(F.lit(0.0))), 2).alias(f"rev_{s}")
        for s in statuses
    ]
    return o.groupBy("o_orderpriority").agg(*aggs).orderBy("o_orderpriority")


def q_price_quantiles(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark `percentile`
    ≡ DuckDB `quantile_cont`)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_extendedprice", F.lit(0.25)), 4).alias("p25"),
            F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("l_extendedprice", F.lit(0.75)), 4).alias("p75"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


def q_cube_orders(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )


def q_string_funcs(spark, sf_dir):
    """String-function surface over a real table, oracle-gated:
    case, length, substring, concat, padding, reverse, split."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return c.select(
        "c_custkey",
        F.upper("c_mktsegment").alias("seg_upper"),
        F.lower("c_name").alias("name_lower"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat_ws("|", "c_mktsegment", F.col("c_custkey").cast("string")).alias("seg_key"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_pad"),
        F.reverse("c_mktsegment").alias("seg_rev"),
        F.split("c_name", "#").getItem(1).alias("name_num"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("name_short"),
    )


def q_date_funcs(spark, sf_dir):
    """Calendar-function surface over the orders timestamps."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.quarter("o_orderdate").alias("qtr"),
        F.month("o_orderdate").alias("mon"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.trunc("o_orderdate", "month").alias("month_start"),
        F.last_day("o_orderdate").alias("month_end"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01")).alias("days_since"),
    )


def q_array_funcs(spark, sf_dir):
    """Array-function surface over the embedding column (the shape
    every vector pipeline manipulates): size, extrema, slicing,
    ordered folds."""
    e = _emb(spark, sf_dir)
    vec = F.col("embedding").cast("array<double>")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.array_max(vec), 4).alias("vmax"),
        F.round(F.array_min(vec), 4).alias("vmin"),
        F.round(F.element_at(vec, 1), 4).alias("first"),
        F.round(
            F.aggregate(F.slice(vec, 1, 4), F.lit(0.0), lambda a, x: a + x), 4
        ).alias("head_sum"),
        F.round(F.element_at(F.array_sort(vec), 3), 4).alias("third_smallest"),
    )


def q_json_funcs(spark, sf_dir):
    """JSON-function surface over the events props column (real JSON
    strings): path extraction and typed parse."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_extracted"),
        F.from_json("props", "k long").getField("k").alias("k_parsed"),
        (F.get_json_object("props", "$.k").cast("long") % 10).alias("k_mod"),
    )


def q_window_funcs(spark, sf_dir):
    """Window-function surface beyond row_number: lag/lead, rank with
    ties, dense_rank, cumulative aggregates, ntile."""
    from pyspark.sql import Window

    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "event_id", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wv = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    return e.select(
        "user_id",
        "event_id",
        F.round(F.lag("value").over(w), 4).alias("prev_value"),
        F.round(F.lead("value").over(w), 4).alias("next_value"),
        F.rank().over(wv).alias("value_rank"),
        F.dense_rank().over(wv).alias("value_dense_rank"),
        F.round(F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4).alias("cum_value"),
        F.ntile(4).over(w).alias("quartile"),
    )


def q_orders_set_algebra(spark, sf_dir):
    """Distinct set algebra (INTERSECT / EXCEPT) on top of the
    semi/anti joins covered by customer_set_ops."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    a = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    return (
        a.intersect(b).withColumn("bucket", F.lit("both"))
        .union(a.subtract(b).withColumn("bucket", F.lit("open_only")))
        .union(b.subtract(a).withColumn("bucket", F.lit("filled_only")))
    )


def q_grouping_sets_orders(spark, sf_dir):
    """Explicit GROUPING SETS + grouping_id — the generalization
    rollup/cube are sugar for; completes the multi-dimensional agg
    surface."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        o.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus", "o_orderpriority",
        )
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
            F.grouping_id().alias("gid"),
        )
    )


def q_customer_set_ops(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    with_orders = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")
    no_orders = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")
    return (
        with_orders.withColumn("has_orders", F.lit(True))
        .union(no_orders.withColumn("has_orders", F.lit(False)))
    )


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
        "exact_dedup_docs": q_exact_dedup_docs,
        "doc_fingerprints": q_doc_fingerprints,
        "winnowing_fps": q_winnowing_fps,
        "token_counts": q_token_counts,
        "quality_scores": q_quality_scores,
        "lang_id": q_lang_id,
        "extract_html": q_extract_html,
        "lineitem_agg": q_lineitem_agg,
        "revenue_by_nation": q_revenue_by_nation,
        "topk_orders_per_customer": q_topk_orders_per_customer,
        "events_agg": q_events_agg,
        "customer_set_ops": q_customer_set_ops,
        "string_funcs": q_string_funcs,
        "date_funcs": q_date_funcs,
        "array_funcs": q_array_funcs,
        "json_funcs": q_json_funcs,
        "window_funcs": q_window_funcs,
        "orders_set_algebra": q_orders_set_algebra,
        "grouping_sets_orders": q_grouping_sets_orders,
        "rollup_orders": q_rollup_orders,
        "price_quantiles": q_price_quantiles,
        "cube_orders": q_cube_orders,
        "pivot_order_status": q_pivot_order_status,
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
        "khop_2": """
            with d as (select doc_id from documents),
            e as (
              select doc_id as s, doc_id + 7 as t from d
              union all
              select doc_id as s, doc_id * 3 as t from d
            ),
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
        "pagerank_3": """
            with d as (select doc_id from documents),
            e as (
              select doc_id as s, doc_id + 7 as t from d
              union all
              select doc_id as s, doc_id * 3 as t from d
            ),
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
        "exact_dedup_docs": """
            select doc_id from documents d
            join (
              select md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) as fp,
                     min(doc_id) as keep
              from documents group by 1
            ) g
            on md5(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g'))) = g.fp
               and d.doc_id = g.keep
        """,
        "doc_fingerprints": """
            select doc_id,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) as fingerprint
            from documents
        """,
        "winnowing_fps": r"""
            with t as (
              select doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) as norm
              from documents
            ), h as (
              select doc_id,
                     list_transform(range(1, greatest(length(norm) - 7, 1) + 1),
                                    i -> md5(substr(norm, i, 8))) as hs
              from t
            )
            select distinct doc_id, fp from (
              select doc_id,
                     unnest(list_transform(range(1, greatest(len(hs) - 3, 1) + 1),
                                           j -> list_min(hs[j:j+3]))) as fp
              from h
            )
        """,
        "token_counts": """
            select doc_id,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) as n_bpe_tokens,
                   len(regexp_split_to_array(trim(text), '\\s+')) as n_ws_tokens
            from documents
        """,
        "quality_scores": """
            with m as (
              select doc_id,
                     len(regexp_split_to_array(trim(text), '\\s+')) as n_tok,
                     len(regexp_extract_all(lower(text), '\\b(the|and|of|to|a|in|is|it|that|for)\\b')) as stop,
                     len(regexp_extract_all(text, '[.,;:!?]')) as punct,
                     greatest(length(text), 1)::DOUBLE as n_chars
              from documents
            )
            select doc_id,
                   round(
                     0.4 * (least(stop::DOUBLE / greatest(n_tok, 1), 0.5) / 0.5)
                   + 0.3 * greatest(0.0, 1.0 - (punct / n_chars) * 5.0)
                   + 0.3 * (least(n_tok, 100)::DOUBLE / 100.0), 4) as quality
            from m
        """,
        "lang_id": """
            with c as (
              select doc_id,
                len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is|in)\\b')) as c_en,
                len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist|nicht)\\b')) as c_de,
                len(regexp_extract_all(lower(text), '\\b(el|la|los|de|que|es)\\b')) as c_es,
                len(regexp_extract_all(lower(text), '\\b(le|la|les|et|est|une)\\b')) as c_fr
              from documents
            )
            select doc_id,
              case when greatest(c_en, c_de, c_es, c_fr) = 0 then 'und'
                   when c_en = greatest(c_en, c_de, c_es, c_fr) then 'en'
                   when c_de = greatest(c_en, c_de, c_es, c_fr) then 'de'
                   when c_es = greatest(c_en, c_de, c_es, c_fr) then 'es'
                   else 'fr' end as lang_pred
            from c
        """,
        "extract_html": """
            select doc_id, 'Doc ' || cast(doc_id as varchar) || chr(10) || trim(text) as text
            from documents where length(trim(text)) > 0
        """,
        "lineitem_agg": """
            select l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) as sum_qty,
                   round(sum(l_extendedprice), 2) as sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) as sum_disc_price,
                   round(avg(l_quantity), 4) as avg_qty,
                   count(*) as count_order
            from lineitem
            where l_shipdate <= timestamp '1998-09-02 00:00:00'
            group by l_returnflag, l_linestatus
            order by l_returnflag, l_linestatus
        """,
        "revenue_by_nation": """
            select n_name, round(sum(o_totalprice), 2) as revenue, count(*) as n_orders
            from orders join customer on o_custkey = c_custkey
            join nation on c_nationkey = n_nationkey
            group by n_name order by n_name
        """,
        "topk_orders_per_customer": """
            select o_custkey, o_orderkey, rk from (
              select o_custkey, o_orderkey,
                     row_number() over (partition by o_custkey
                                        order by o_totalprice desc, o_orderkey asc) as rk
              from orders
            ) where rk <= 3
        """,
        "events_agg": """
            select event_type, count(*) as n, round(sum(value), 2) as total_value,
                   count(distinct user_id) as n_users
            from events group by event_type order by event_type
        """,
        "customer_set_ops": """
            select c_custkey, true as has_orders from customer
            where c_custkey in (select o_custkey from orders)
            union all
            select c_custkey, false as has_orders from customer
            where c_custkey not in (select o_custkey from orders)
        """,
        "string_funcs": """
            select c_custkey,
                   upper(c_mktsegment) as seg_upper,
                   lower(c_name) as name_lower,
                   length(c_name) as name_len,
                   substr(c_name, 1, 8) as name_prefix,
                   concat_ws('|', c_mktsegment, cast(c_custkey as varchar)) as seg_key,
                   lpad(cast(c_custkey as varchar), 10, '0') as key_pad,
                   reverse(c_mktsegment) as seg_rev,
                   string_split(c_name, '#')[2] as name_num,
                   replace(c_name, 'Customer', 'Cust') as name_short
            from customer
        """,
        "date_funcs": """
            select o_orderkey,
                   year(o_orderdate) as yr,
                   quarter(o_orderdate) as qtr,
                   month(o_orderdate) as mon,
                   day(o_orderdate) as dom,
                   date_trunc('month', o_orderdate) as month_start,
                   last_day(o_orderdate::date) as month_end,
                   datediff('day', date '1995-01-01', o_orderdate::date) as days_since
            from orders
        """,
        "array_funcs": """
            with v as (
              select vec_id, embedding::DOUBLE[] as e from embeddings
            )
            select vec_id,
                   len(e) as dim,
                   round(list_max(e), 4) as vmax,
                   round(list_min(e), 4) as vmin,
                   round(e[1], 4) as first,
                   round(e[1] + e[2] + e[3] + e[4], 4) as head_sum,
                   round(list_sort(e)[3], 4) as third_smallest
            from v
        """,
        "json_funcs": """
            select event_id,
                   json_extract(props, '$.k')::BIGINT as k_extracted,
                   json_extract(props, '$.k')::BIGINT as k_parsed,
                   json_extract(props, '$.k')::BIGINT % 10 as k_mod
            from events
        """,
        "window_funcs": """
            select user_id, event_id,
                   round(lag(value) over w, 4) as prev_value,
                   round(lead(value) over w, 4) as next_value,
                   rank() over wv as value_rank,
                   dense_rank() over wv as value_dense_rank,
                   round(sum(value) over (partition by user_id order by ts, event_id
                                          rows between unbounded preceding and current row), 4) as cum_value,
                   ntile(4) over w as quartile
            from events
            window w as (partition by user_id order by ts, event_id),
                   wv as (partition by user_id order by value desc, event_id)
        """,
        "orders_set_algebra": """
            with a as (select o_custkey from orders where o_orderstatus = 'O'),
                 b as (select o_custkey from orders where o_orderstatus = 'F')
            select o_custkey, 'both' as bucket from (select * from a intersect select * from b)
            union all
            select o_custkey, 'open_only' as bucket from (select * from a except select * from b)
            union all
            select o_custkey, 'filled_only' as bucket from (select * from b except select * from a)
        """,
        "grouping_sets_orders": """
            select o_orderstatus, o_orderpriority,
                   round(sum(o_totalprice), 2) as revenue,
                   count(*) as n,
                   grouping(o_orderstatus, o_orderpriority) as gid
            from orders
            group by grouping sets ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """,
        "rollup_orders": """
            select o_orderpriority, o_orderstatus,
                   round(sum(o_totalprice), 2) as revenue, count(*) as n
            from orders
            group by rollup (o_orderpriority, o_orderstatus)
        """,
        "price_quantiles": """
            select l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.25), 4) as p25,
                   round(quantile_cont(l_extendedprice, 0.5), 4) as p50,
                   round(quantile_cont(l_extendedprice, 0.75), 4) as p75,
                   count(*) as n
            from lineitem group by l_returnflag order by l_returnflag
        """,
        "cube_orders": """
            select o_orderstatus, o_orderpriority, count(*) as n
            from orders group by cube (o_orderstatus, o_orderpriority)
        """,
        "pivot_order_status": """
            select o_orderpriority,
                   round(sum(case when o_orderstatus = 'O' then o_totalprice else 0 end), 2) as rev_O,
                   round(sum(case when o_orderstatus = 'F' then o_totalprice else 0 end), 2) as rev_F,
                   round(sum(case when o_orderstatus = 'P' then o_totalprice else 0 end), 2) as rev_P
            from orders group by o_orderpriority order by o_orderpriority
        """,
    }
