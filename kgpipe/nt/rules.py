"""Prefix-abbreviation rules: parsing, partitioning, and rewriting.

Reference semantics: /root/reference/common.go:22-38 (Rule type,
DumpRules), :69-85 (ParseRules), :88-96 (PartitionRules), :99-143
(sed/replace command builders). Quirk ledger: SURVEY.md §2c Q13-Q16.

Two rewrite modes:
  * ``lpm`` (engine default) — longest-prefix-match at the START of
    each term, standard CURIE semantics, implemented as a broadcast
    prefix table applied vectorized. Deterministic regardless of rule
    order.
  * ``compat`` — the reference's behavior: literal, global substring
    substitution applied sequentially in rule order (the semantics of
    the MySQL ``replace`` binary path, common.go:133-143, which the
    reference prefers when available, cmd/ntto/ntto.go:54-58). First
    rule wins on overlapping prefixes (Q13); matches anywhere in the
    term, including inside literals (Q14).

A rule whose shortcut equals the null sentinel (``<NULL>`` by
default) STRIPS the prefix instead of abbreviating (Q16,
common.go:111-114). Non-null rewrites append ``:`` after the
shortcut (common.go:114,140).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import pandas as pd

NULL_SENTINEL = "<NULL>"


def _trie_regex(patterns: list[str]) -> str:
    """Compile literal patterns into a prefix-trie-factored regex whose
    alternation ORDER encodes priority: at every trie node, branches
    appear in the order their highest-priority pattern appears in the
    input list, and a pattern that ENDS at a node becomes the empty
    alternative at that list position. Python's `re` tries ordered
    alternatives left-to-right, so at any text position the matched
    pattern is exactly the first-listed one that matches — i.e. input
    order IS the match priority. Trie factoring keeps the match
    attempt O(pattern length), not O(#patterns) (a flat 223-way
    alternation re-compares the shared ``http://`` head per branch:
    measured 191k lines/s vs 257k trie, single core)."""

    def rec(items: list[tuple[str, int]]) -> str:
        # A node truncates at its first ENDER (a pattern finishing
        # here): the empty alternative always matches, so every
        # lower-priority alternative after it is dead — which is
        # exactly sequential semantics (the shorter, earlier rule's
        # pass destroys every longer, later pattern's site, e.g.
        # DefaultRules' rss(185) kills slash(192) wherever slash
        # would match). BEFORE the ender, same-first-char items may
        # be merged across intervening different-char items: branches
        # on distinct chars are mutually exclusive, so reordering
        # across them cannot change which pattern matches first,
        # while within a char group the global priority order is
        # preserved.
        pre: list[tuple[str, int]] = []
        has_end = False
        for suf, pri in items:
            if suf == "":
                has_end = True
                break
            pre.append((suf, pri))
        groups: dict[str, list[tuple[str, int]]] = {}
        order: list[str] = []
        for suf, pri in pre:
            c = suf[0]
            if c not in groups:
                groups[c] = []
                order.append(c)
            groups[c].append((suf[1:], pri))
        alts = [re.escape(c) + rec(groups[c]) for c in order]
        if has_end:
            alts.append("")
        if len(alts) == 1:
            return alts[0]
        return "(?:" + "|".join(alts) + ")"

    return rec([(p, i) for i, p in enumerate(patterns)])


def _compile_singlepass(
    repl_pairs: list[tuple[str, str]],
) -> tuple[re.Pattern, re.Pattern] | None:
    """Compile the sequential-global-substitution semantics (one full
    pass per rule, in rule order — the reference's perl/replace
    pipeline) into a single left-to-right scan, when that is PROVABLY
    equivalent. Returns (sub_rx, suspect_rx) or None.

    Static conditions, each checked exactly over the whole table:

      A  no pattern occurs inside any replacement — a rule's output is
         never re-matched by another rule;
      B  no nonempty proper prefix of a pattern is a suffix of a
         replacement — no match can START inside substituted text;
      D  no two patterns can match overlapping spans at different
         offsets in plain text (for any pattern p and split k>0, no
         pattern q satisfies q ⊑ p[k:] or p[k:] ⊑ q, ⊑ = prefix-of) —
         scan order and rule order would otherwise pick different
         winners;
      E  no nonempty replacement is a PREFIX of any pattern — a
         sequential match can never START at a replaced segment and
         extend beyond it (a replaced segment in the interior or at
         the end of a spanning match implies original text containing
         a pattern occurrence immediately preceded by pattern-alphabet
         characters, which the suspect scan below catches per row);
      and every replacement is nonempty (a strip rule DELETES text,
      gluing its neighbors into arbitrary new matches no static check
      can bound).

    One divergence channel survives A/B/D/E: a sequential pass j can
    match ACROSS the boundary between original text and an
    earlier-substituted segment (pattern suffix = replacement prefix —
    the reference's own output is order-sensitive there). Every such
    channel requires, in the ORIGINAL row, a pattern occurrence
    immediately preceded by a character drawn from the patterns' own
    alphabet (the dangling fragment that completes across the
    boundary, or an adjacent earlier match). `suspect_rx` detects
    exactly that shape — any match preceded by a pattern-alphabet
    character — and those (in real N-Triples: essentially zero; terms
    are preceded by '<', '\"', whitespace, or line start) take the
    per-rule sequential path. Everything else takes the single pass.

    At the same start offset both strategies pick the first rule in
    order (one pattern is a prefix of the other there, and the trie's
    alternation order encodes rule priority).
    """
    pats = list(dict.fromkeys(p for _, p in repl_pairs if p))
    if not pats:
        return None
    repls = [t for t, _ in repl_pairs]
    if any(not t for t in repls):
        return None  # strip rules delete text → gluing, no fast path
    patset = set(pats)
    # A: no pattern inside any replacement
    for t in repls:
        if any(p in t for p in pats):
            return None
    # E: no replacement is a prefix of any pattern
    for p in pats:
        if any(p.startswith(t) for t in repls):
            return None
    # B: pattern prefixes vs replacement suffixes (exact, via sets)
    repl_suffixes = {t[i:] for t in repls for i in range(len(t))}
    for p in pats:
        for k in range(1, len(p)):
            if p[:k] in repl_suffixes:
                return None
    # D: any proper suffix (tail) of a pattern prefix-related to any
    # pattern
    tails = {p[k:] for p in pats for k in range(1, len(p))}
    for q in pats:
        for k in range(1, len(q) + 1):
            if q[:k] in tails:  # some tail is a prefix of q (or q itself)
                return None
    for tail in tails:
        for k in range(1, len(tail)):
            if tail[:k] in patset:  # some pattern is a proper prefix of a tail
                return None
    trie = _trie_regex(pats)
    alphabet = sorted({c for p in pats for c in p})
    cls = "[" + "".join(re.escape(c) for c in alphabet) + "]"
    return re.compile(trie), re.compile(cls + "(?:" + trie + ")")


@dataclass(frozen=True)
class Rule:
    shortcut: str
    prefix: str

    def format(self) -> str:
        # common.go:36-38
        return f"{self.shortcut}\t{self.prefix}"


class RuleParseError(ValueError):
    pass


def parse_rules(text: str) -> list[Rule]:
    """Parse a rules table: ``shortcut <ws> prefix`` per line.

    Blank lines and ``#`` / ``//`` comments are skipped; a
    non-comment line with fewer than two fields is an error
    ("broken rule: ..."), matching common.go:69-85.
    """
    rules: list[Rule] = []
    for raw in text.split("\n"):
        line = raw.strip()
        if not line or line.startswith("#") or line.startswith("//"):
            continue
        fields = line.split()
        if len(fields) < 2:
            raise RuleParseError(f"broken rule: {line}")
        rules.append(Rule(shortcut=fields[0], prefix=fields[1]))
    return rules


def dump_rules(rules: list[Rule]) -> str:
    """Sorted ``shortcut\\tprefix`` dump (common.go:27-34)."""
    return "\n".join(sorted(r.format() for r in rules))


def partition_rules(rules: list[Rule], count: int) -> list[list[Rule]]:
    """Round-robin split into min(len, count) partitions
    (common.go:88-96). Obsolete under Spark (task parallelism covers
    it) but kept because partition order defines compat rewrite
    topology (SURVEY.md §2c-Q12/Q13) and it is pinned by reference
    tests."""
    count = min(len(rules), count)
    if count <= 0:
        return []
    parts: list[list[Rule]] = [[] for _ in range(count)]
    for i, rule in enumerate(rules):
        parts[i % count].append(rule)
    return parts


def sedify(rules: list[Rule], p: int, infile: str, null: str = NULL_SENTINEL) -> str:
    """Build the perl pipeline command string the reference would run
    (common.go:104-127). We never execute it — it is the reference's
    'physical plan' and is pinned by its tests; kept for parity and
    for golden-file generation."""
    parts = partition_rules(rules, p)
    cmds = []
    for i, part in enumerate(parts):
        subs = "; ".join(
            f"s@{r.prefix}@@g" if r.shortcut == null else f"s@{r.prefix}@{r.shortcut}:@g"
            for r in part
        )
        if i == 0 and infile:
            cmds.append(f"LANG=C perl -lnpe '{subs}' < '{infile}'")
        else:
            cmds.append(f"LANG=C perl -lnpe '{subs}'")
    return " | ".join(cmds)


def replacify(rules: list[Rule], infile: str, null: str = NULL_SENTINEL) -> str:
    """Build the ``replace`` command string (common.go:133-143)."""
    buf = "".join(
        f" '{r.prefix}' '' " if r.shortcut == null else f" '{r.prefix}' '{r.shortcut}:' "
        for r in rules
    )
    return f"replace {buf} < {infile}"


class PrefixRewriter:
    """Vectorized prefix rewriter over pandas Series, designed to be
    shipped to executors as a Spark broadcast variable (it is a small
    pure-Python object; the rule table is at most a few hundred
    entries — rules.go has 223).

    mode='lpm': longest-prefix-match anchored at term start.
    mode='compat': sequential literal global substring replace in
    rule order (reference `replace`-binary semantics).
    """

    def __init__(self, rules: list[Rule], mode: str = "lpm", null: str = NULL_SENTINEL):
        if mode not in ("lpm", "compat"):
            raise ValueError(f"unknown rewrite mode: {mode}")
        self.rules = list(rules)
        self.mode = mode
        self.null = null
        # replacement text: '' for the null sentinel (strip), else 'short:'
        self._repl = [
            ("" if r.shortcut == null else r.shortcut + ":", r.prefix) for r in self.rules
        ]
        # LPM order: longest prefix first so the most specific rule wins;
        # ties broken by rule order for determinism.
        self._lpm_order = sorted(
            range(len(self._repl)), key=lambda i: (-len(self._repl[i][1]), i)
        )
        # -- compiled single-pass engines (the vectorized hot path) ----
        # replacement lookup by pattern; FIRST rule wins on duplicate
        # prefixes (sequential semantics: the first pass consumes all
        # sites, later identical patterns find nothing)
        self._lookup: dict[str, str] = {}
        for repl, prefix in self._repl:
            if prefix and prefix not in self._lookup:
                self._lookup[prefix] = repl
        # compat: ONE left-to-right scan with a priority-ordered trie
        # alternation replaces the per-rule sequential passes (measured
        # 20k → 257k lines/s single-core on the 223-rule DefaultRules)
        # — compiled only when _compile_singlepass PROVES equivalence
        # (with per-row suspect routing for the one boundary-spanning
        # channel); unsafe tables keep the sequential path.
        # re.Pattern pickles by source+flags, so broadcasting works.
        self._compat_rx = (
            _compile_singlepass(self._repl) if self.mode == "compat" else None
        )
        # lpm: anchored match with a longest-first trie — the trie's
        # alternation order encodes (-len, rule order), so a single
        # re.match replaces the per-rule startswith passes. Always
        # equivalent (one anchored match, no rescanning), no safety
        # conditions needed.
        lpm_pats = [self._repl[i][1] for i in self._lpm_order if self._repl[i][1]]
        # dedupe keeping lpm priority order
        lpm_pats = list(dict.fromkeys(lpm_pats))
        self._lpm_rx = re.compile(_trie_regex(lpm_pats)) if lpm_pats else None
        # joined-batch variant: (?m)^trie matches each line start of a
        # newline-joined block, so ONE C-level sub pass rewrites a
        # whole Arrow batch instead of one Python re call per row.
        # Sound because rule prefixes come from whitespace-split
        # fields (they can never contain a newline), so no pattern —
        # and no replacement — crosses the artificial boundary; rows
        # that themselves contain newlines are routed to the per-row
        # path (see _sub_lpm/_sub_singlepass).
        self._lpm_rx_ml = (
            re.compile("(?m)^(?:" + _trie_regex(lpm_pats) + ")") if lpm_pats else None
        )

    # -- scalar (ground truth; _sub_singlepass's suspect-row path) ------
    def rewrite_term(self, term: str) -> str:
        if self.mode == "compat":
            for repl, prefix in self._repl:
                term = term.replace(prefix, repl)
            return term
        for i in self._lpm_order:
            repl, prefix = self._repl[i]
            if term.startswith(prefix):
                return repl + term[len(prefix) :]
        return term

    def expand_term(self, term: str) -> str:
        """Inverse of LPM rewrite for round-trip property tests
        (only meaningful for non-null rules)."""
        for r in self.rules:
            if r.shortcut != self.null and term.startswith(r.shortcut + ":"):
                return r.prefix + term[len(r.shortcut) + 1 :]
        return term

    # -- vectorized (hot path inside Arrow batches) ----------------------
    def rewrite_series(self, col: pd.Series) -> pd.Series:
        col = col.astype("object")
        if self.mode == "compat":
            if self._compat_rx is not None:
                return self._sub_singlepass(col)
            out = col
            for repl, prefix in self._repl:
                out = out.str.replace(prefix, repl, regex=False)
            return out
        if self._lpm_rx is not None:
            return self._sub_lpm(col)
        out = col.copy()
        unmatched = col.notna()
        for i in self._lpm_order:
            repl, prefix = self._repl[i]
            m = unmatched & out.str.startswith(prefix, na=False)
            if m.any():
                out.loc[m] = repl + col.loc[m].str[len(prefix) :]
                unmatched &= ~m
            if not unmatched.any():
                break
        return out

    def _sub_singlepass(self, col: pd.Series) -> pd.Series:
        rx, suspect = self._compat_rx
        lookup = self._lookup
        fn = lambda m: lookup[m.group(0)]  # noqa: E731
        seq = self.rewrite_term
        out = col.copy()
        mask = col.notna()
        if not mask.any():
            return out
        vals = col.loc[mask].tolist()
        # joined-batch fast path: ONE C-level sub over the whole batch
        # joined with '\n' instead of a Python re call per row. Sound
        # because patterns and replacements come from whitespace-split
        # rule fields (they cannot contain '\n'), so no match or
        # substitution crosses the artificial row boundary. Guarded:
        # rows containing a literal newline (would corrupt the
        # re-split) or ANY suspect hit in the block (the block scan is
        # conservative — a cross-boundary false positive only routes
        # the batch to the exact per-row path) fall back below.
        if not any("\n" in x for x in vals):
            joined = "\n".join(vals)
            if suspect.search(joined) is None:
                out.loc[mask] = rx.sub(fn, joined).split("\n")
                return out
        out.loc[mask] = [
            seq(x) if suspect.search(x) else rx.sub(fn, x) for x in vals
        ]
        return out

    def _sub_lpm(self, col: pd.Series) -> pd.Series:
        rx, lookup = self._lpm_rx, self._lookup
        out = col.copy()
        mask = col.notna()
        if not mask.any():
            return out
        vals = col.loc[mask].tolist()
        # joined-batch fast path: (?m)^trie can only match at row
        # starts of the '\n'-joined block (patterns are newline-free,
        # so a match never reaches the next row, and after an anchored
        # match there is no further '^' before the next row) — one
        # C-level sub replaces the per-row rx.match loop with
        # identical results. Rows containing a literal newline fall
        # back to the per-row path.
        if self._lpm_rx_ml is not None and not any("\n" in x for x in vals):
            fn = lambda m: lookup[m.group(0)]  # noqa: E731
            out.loc[mask] = self._lpm_rx_ml.sub(fn, "\n".join(vals)).split("\n")
            return out

        def one(x: str) -> str:
            m = rx.match(x)
            return lookup[m.group(0)] + x[m.end() :] if m else x

        out.loc[mask] = [one(x) for x in vals]
        return out
