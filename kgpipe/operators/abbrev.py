"""Stage 3 — abbreviate: namespace-prefix rewrite of s/p/o.

Spark lift of kgpipe.nt.rules.PrefixRewriter. The rule table is tiny
(≤ a few hundred rows — the reference ships 223,
/root/reference/rules.go), so there is deliberately NO join here:
the rewriter ships to executors as a Spark broadcast variable and
runs as a scalar pandas UDF over each term column. Narrow transform,
no shuffle — this is the Spark analogue of the reference's broadcast
of rules into every perl pipe stage
(/root/reference/common.go:104-127).

Default mode 'lpm' = longest-prefix-match CURIE semantics; 'compat'
replays the reference's sequential literal substitution (SURVEY.md
§2c Q13-Q16).
"""

from __future__ import annotations

import pandas as pd

from kgpipe.nt.rules import PrefixRewriter, Rule


def abbreviate_columns(
    df, columns: list[str], rules: list[Rule], mode: str = "lpm",
    null: str | None = None,
):
    """Rewrite each named string column through the broadcast rule
    table. Returns df with the columns replaced in place. `null`
    overrides the strip-sentinel shortcut (ntto -n)."""
    from pyspark.sql import functions as F, types as T

    from kgpipe.nt.rules import NULL_SENTINEL

    # the frame's own session, not the thread-local active one (None
    # on non-driver threads, e.g. foreachBatch callbacks)
    spark = df.sparkSession
    rewriter = PrefixRewriter(rules, mode=mode, null=null if null is not None else NULL_SENTINEL)
    bc = spark.sparkContext.broadcast(rewriter)

    @F.pandas_udf(T.StringType())
    def _abbrev(col: pd.Series) -> pd.Series:
        return bc.value.rewrite_series(col)

    out = df
    for c in columns:
        out = out.withColumn(c, _abbrev(F.col(c)))
    return out


def abbreviate_lines(
    df,
    rules: list[Rule],
    null: str | None = None,
    line_col: str = "value",
):
    """Raw-line abbreviation: the Spark analogue of `ntto -a` WITHOUT
    `-j` (cmd/ntto/ntto.go:144-166 — the perl pipeline's stdout IS the
    output, nothing is parsed). Original term framing (angle brackets,
    literal quotes) survives byte-for-byte because only substring
    substitution happens. Narrow transform, no shuffle.

    The compat-mode abbreviate_columns over the one line column: the
    broadcast PrefixRewriter as an Arrow-batched scalar pandas UDF."""
    return abbreviate_columns(df, [line_col], rules, mode="compat", null=null)


def expand_curie_expr(col, rules, null: str | None = None):
    """INVERSE of LPM abbreviation, as a pure-JVM expression: a CURIE
    `shortcut:rest` whose shortcut is in the rule table expands to
    `prefix || rest`; anything else (full IRIs, literals, bare
    suffixes from <NULL> strips — irrecoverable by construction)
    passes through unchanged. The reference has no expand direction
    (ntto only shrinks, README.md:6-9); any consumer of abbreviated
    NT needs this to get resolvable IRIs back.

    Duplicate shortcuts in the table (`atom`, `virtrdf` —
    /root/reference/rules.go:31,133-134,222; SURVEY.md §2c-Q13) make
    abbreviation lossy: expansion takes the FIRST rule, mirroring the
    first-wins order the sequential rewriter applies. Lookup is one
    map literal probe per value — no join, no shuffle, no UDF."""
    from pyspark.sql import functions as F

    from kgpipe.nt.rules import NULL_SENTINEL

    sentinel = null if null is not None else NULL_SENTINEL
    first: dict[str, str] = {}
    for r in rules:
        if r.shortcut != sentinel and r.shortcut not in first:
            first[r.shortcut] = r.prefix
    mapping = F.create_map(
        *[F.lit(x) for kv in sorted(first.items()) for x in kv]
    )
    sc = F.split_part(col, F.lit(":"), F.lit(1))
    prefix = F.element_at(mapping, sc)
    rest = col.substr(F.length(sc) + 2, F.length(col))
    return F.when(
        col.contains(":") & prefix.isNotNull(), F.concat(prefix, rest)
    ).otherwise(col)


def expand_columns(df, columns: list[str], rules, null: str | None = None):
    """Expand CURIEs in the named columns back to full IRIs (see
    expand_curie_expr). Roundtrip law: expand(abbreviate_lpm(x)) == x
    for rule sets with unique shortcuts (pytest-pinned; property-
    tested for the 16-rule fixture table)."""
    out = df
    for c in columns:
        out = out.withColumn(c, expand_curie_expr(out[c], rules, null=null))
    return out
