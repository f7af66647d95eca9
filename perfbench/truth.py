"""Output checks, run outside every timed region.

Ground truth is the reference's own perl rewrite (``sedify(rules, 1,
"")``) plus the scalar ``parse_ntriple``, as in the repository's verify
recipe. Outputs are read straight from the files the program wrote
(pyarrow / json), never through the program, and compared as
multisets: output order is nondeterministic by design.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import tempfile

import pyarrow.dataset as ds

from kgpipe.nt.parser import NTParseError, parse_ntriple
from kgpipe.nt.rules import Rule, sedify

MASK = (1 << 64) - 1


class Digest:
    """Order-free multiset digest: row count plus the sum of a 64-bit
    hash of each row, mod 2^64."""

    def __init__(self, rows=()) -> None:
        self.n = 0
        self.h = 0
        for r in rows:
            self.add(r)

    def add(self, row: tuple) -> None:
        b = "\x1f".join(row).encode("utf-8")
        self.h = (self.h + int.from_bytes(hashlib.blake2b(b, digest_size=8).digest(), "little")) & MASK
        self.n += 1

    def __eq__(self, other) -> bool:
        return (self.n, self.h) == (other.n, other.h)

    def __repr__(self) -> str:
        return f"Digest(n={self.n}, h={self.h:016x})"


def perl_triples(lines: list[str], rules: list[Rule], tmp_dir: str, procs: int) -> Digest:
    """Clean triples of `lines` under the reference pipeline: the perl
    rewrite, then parse_ntriple; broken lines are skipped. Lines are
    independent, so the input is cut into `procs` chunks that run the
    same single perl pipeline side by side."""
    step = -(-len(lines) // max(procs, 1))
    files = []
    for k in range(0, len(lines), step):
        fd, path = tempfile.mkstemp(dir=tmp_dir, suffix=".nt")
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            f.write("\n".join(lines[k : k + step]) + "\n")
        files.append(path)
    ps = [
        subprocess.Popen(sedify(rules, 1, p), shell=True, stdout=subprocess.PIPE,
                         env={**os.environ, "LANG": "C"})
        for p in files
    ]
    out = Digest()
    for p, path in zip(ps, files):
        stdout, _ = p.communicate()
        os.unlink(path)
        if p.returncode != 0:
            raise RuntimeError(f"perl rewrite exited {p.returncode}")
        for line in stdout.decode("utf-8").splitlines():
            if line.strip():
                try:
                    out.add(parse_ntriple(line))
                except NTParseError:
                    pass
    return out


def _table(path: str, columns: list[str]):
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


def clean_triples(warehouse: str) -> list[tuple[str, str, str]]:
    t = _table(os.path.join(warehouse, "triples_raw"), ["s", "p", "o", "error"])
    return [
        (s, p, o) for s, p, o, e in zip(*(t.column(c).to_pylist() for c in ("s", "p", "o", "error")))
        if e is None
    ]


def canonical_map(warehouse: str) -> list[tuple[str, str]]:
    t = _table(os.path.join(warehouse, "canonical_map"), ["uri", "canon_id"])
    return list(zip(t.column("uri").to_pylist(), t.column("canon_id").to_pylist()))


def edges(warehouse: str) -> Digest:
    t = _table(os.path.join(warehouse, "edges"), ["canon_s", "p", "canon_o"])
    return Digest(zip(*(t.column(c).to_pylist() for c in ("canon_s", "p", "canon_o"))))


def ldj_triples(out_dir: str) -> Digest:
    d = Digest()
    for name in sorted(os.listdir(out_dir)):
        if name.startswith("part-"):
            with open(os.path.join(out_dir, name), encoding="utf-8") as f:
                for line in f:
                    r = json.loads(line)
                    d.add((r["s"], r["p"], r["o"]))
    return d


def check_warehouse(warehouse: str, expected: Digest, sameas: str) -> list[str]:
    """Problems with a pipeline warehouse ([] when correct): clean
    triples equal the ground truth as a multiset, |edges| = |clean
    triples|, and both ends of every sameAs triple share a canon_id."""
    problems = []
    triples = clean_triples(warehouse)
    got = Digest(triples)
    if got != expected:
        problems.append(f"clean triples {got} != reference {expected}")
    n_edges = edges(warehouse).n
    if n_edges != len(triples):
        problems.append(f"|edges| {n_edges} != |clean triples| {len(triples)}")
    cmap = dict(canonical_map(warehouse))
    split = sum(
        1 for s, p, o in triples
        if p == sameas and cmap.get(s, s) != cmap.get(o, o)
    )
    if split:
        problems.append(f"{split} sameAs pairs with different canon_ids")
    return problems


def check_same_graph(warehouse: str, reference: str) -> list[str]:
    """The canonical map and the edges of `warehouse` digest-match
    those of `reference` (a full rebuild over the same pages)."""
    problems = []
    if Digest(canonical_map(warehouse)) != Digest(canonical_map(reference)):
        problems.append("canonical map differs from the full rebuild")
    ea, eb = edges(warehouse), edges(reference)
    if ea != eb:
        problems.append(f"edges {ea} differ from the full rebuild {eb}")
    return problems
