"""Nested boolean queries: parentheses, AND / OR / NOT, one scoring job.

The flat query-string grammar (dts.parser) covers Lucene's single-level
MUST / SHOULD / MUST_NOT algebra; real search boxes also nest:

    fast AND (join OR scan) AND NOT slow
    (table scan)^2 OR data
    (fast join scan)~2            # group minimum_should_match

This module parses that dialect into a BOOLEAN TREE (each node a Lucene
BooleanQuery: must / should / must_not child lists + minimum_should_match)
and evaluates the whole tree INSIDE the one-job scoring kernel
(dts.score_index mode='tree'): per-leaf doc sets and score arrays are
built from the same role-tagged clause rows every other query path uses,
then the tree folds bottom-up with sorted-array set ops — zero extra
Spark jobs, zero extra shuffles vs a flat query of the same terms.

Semantics (Lucene BooleanQuery parity):
- a doc MATCHES a node iff every ``must`` child matches, no ``must_not``
  child matches, and ≥ msm ``should`` children match (msm defaults to 0
  when the node has must children, else 1);
- a node's SCORE is the sum of its matching must + should children's
  scores — so a leaf contributes only when its entire ancestor path
  matched (``a OR (b AND c)``: b alone never scores);
- a leaf is a term, a ``term~k`` fuzzy set, a ``wild*card`` expansion,
  or a ``"quoted phrase"``(~slop): expansions share the leaf (docs =
  union, score = sum of matching expansions — Lucene's BooleanQuery
  rewrite), phrases score AS UNITS (PhraseQuery: tf = phrase frequency;
  the scored synthetic-row machinery of dts.phrase);
- ``^boost`` on a leaf or a parenthesized group multiplies its
  contribution (a group boost folds onto every leaf beneath it —
  exactly BoostQuery over a BooleanQuery).

Grammar (precedence NOT > AND > OR; documented delta vs Lucene's
QueryParser, whose keyword handling is famously order-dependent — this
is the conventional precedence reading, like ``a AND b OR c`` ⇒
``(a AND b) OR c``):

    query   := orExpr
    orExpr  := andExpr ((OR | ε) andExpr)*       # juxtaposition = OR
    andExpr := signed (AND signed)*
    signed  := (NOT | ! | + | -)? primary        # NOT/!/- ⇒ MUST_NOT
    primary := element | '(' orExpr ')' [~msm] [^boost]

A multi-token atom (``Fast-Join``) becomes an OR-group of its tokens
(Lucene's graph-query analysis of an unquoted multi-term atom); the
sign applies to the group.

Scale: identical plan to dts.parser.search_batch — all queries' clause
rows share one qterms table, phrase constraints ride as synthetic rows
(one positional job for the whole batch), and the kernel evaluates per
(query, shard) group over bucket-colocated postings; tree evaluation is
numpy set algebra on arrays the group already decoded.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from dts.io import local_rows_df
from dts.tokenizer import tokenize_text

_LEX = re.compile(
    r"""\s+
      | (?P<lp>\()
      | (?P<rp>\))(?:~(?P<gmsm>\d+))?(?:\^(?P<gboost>\d+(?:\.\d+)?))?
      | (?P<op>AND\b|OR\b|NOT\b|&&|\|\|)
      | (?P<bang>!)
      | (?P<sign>[+-])(?=\S)
      | "(?P<phrase>[^"]*)"(?:~(?P<pslop>\d+))?(?:\^(?P<pboost>\d+(?:\.\d+)?))?
      | (?P<atom>[^\s()"]+)
    """,
    re.VERBOSE,
)

# Parse-level leaves (element, payload..., boost); exec-level trees are
# ("leaf", clause_id) | ("node", must, should, must_not, msm) with tuple
# children — plain picklable tuples so the per-query tree ships in the
# kernel closure like m_map does.
_ATOM_BOOST = re.compile(r"(?P<body>.*[^\s^])\^(?P<b>\d+(?:\.\d+)?)")
_FUZZY = re.compile(r"(?P<t>[^~\s]+)~(?P<k>\d+)")


class _Tok:
    __slots__ = ("kind", "val", "msm", "boost", "slop")

    def __init__(self, kind, val=None, msm=None, boost=None, slop=None):
        self.kind, self.val = kind, val
        self.msm, self.boost, self.slop = msm, boost, slop


def _lex(text: str) -> list[_Tok]:
    out: list[_Tok] = []
    pos = 0
    text = text or ""
    while pos < len(text):
        m = _LEX.match(text, pos)
        if m is None:  # pragma: no cover - every char class is covered
            raise ValueError(f"unlexable query at {text[pos:pos + 20]!r}")
        pos = m.end()
        if m.group("lp"):
            out.append(_Tok("("))
        elif m.group("rp"):
            out.append(_Tok(
                ")",
                msm=int(m.group("gmsm")) if m.group("gmsm") else None,
                boost=float(m.group("gboost")) if m.group("gboost") else None,
            ))
        elif m.group("op"):
            out.append(_Tok(
                {"&&": "AND", "||": "OR"}.get(m.group("op"), m.group("op"))
            ))
        elif m.group("bang"):
            out.append(_Tok("NOT"))
        elif m.group("sign"):
            out.append(_Tok("sign", m.group("sign")))
        elif m.group("phrase") is not None:
            out.append(_Tok(
                "phrase", m.group("phrase"),
                slop=max(1, int(m.group("pslop"))) if m.group("pslop") else 1,
                boost=float(m.group("pboost")) if m.group("pboost") else 1.0,
            ))
        elif m.group("atom"):
            out.append(_Tok("atom", m.group("atom")))
    return out


def _atom_leaves(atom: str) -> list[tuple]:
    """One atom → parse-level leaves. Multi-token atoms return several
    term leaves (the caller groups them into an OR node)."""
    boost = 1.0
    bm = _ATOM_BOOST.fullmatch(atom)
    if bm:
        atom, boost = bm.group("body"), float(bm.group("b"))
    fm = _FUZZY.fullmatch(atom)
    if fm:
        return [
            ("fuzzy", t, int(fm.group("k")), boost)
            for t in tokenize_text(fm.group("t"))
        ]
    if "*" in atom:
        pat = atom.lower()
        return [("wild", pat, boost)] if set(pat) - {"*"} else []
    return [("term", t, boost) for t in tokenize_text(atom)]


def _mk_node(children: list[tuple[str, tuple]], msm_override=None,
             boost=None) -> tuple:
    """Build a parse node from (occur, child) pairs; collapse a single
    unsigned child with no overrides straight through."""
    must = tuple(n for o, n in children if o == "must")
    should = tuple(n for o, n in children if o == "should")
    mnot = tuple(n for o, n in children if o == "must_not")
    if (
        msm_override is None and boost is None and not must and not mnot
        and len(should) == 1
    ):
        return should[0]
    msm = msm_override if msm_override is not None else (
        0 if must else (1 if should else 0)
    )
    return ("node", must, should, mnot, int(msm), float(boost or 1.0))


class _Parser:
    def __init__(self, toks: list[_Tok]):
        self.toks, self.i = toks, 0

    def peek(self) -> _Tok | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def _collect_children(self) -> list[tuple[str, tuple]]:
        """OR-level child list: andExprs separated by OR or juxtaposition,
        stopping at ')' or end."""
        children: list[tuple[str, tuple]] = []
        while True:
            t = self.peek()
            if t is None or t.kind == ")":
                break
            if t.kind == "OR":
                self.i += 1
                continue
            children.append(self._parse_and())
        if not children:
            raise ValueError("empty query/group")
        return children

    def _parse_and(self) -> tuple[str, tuple]:
        items = [self._parse_signed()]
        while (t := self.peek()) is not None and t.kind == "AND":
            self.i += 1
            items.append(self._parse_signed())
        if len(items) == 1:
            return items[0]
        # AND: unsigned/'+' children are MUST, NOT/'-' children MUST_NOT.
        pairs = [
            ("must" if o in ("should", "must") else "must_not", n)
            for o, n in items
        ]
        return "should", _mk_node(pairs, msm_override=0)

    def _parse_signed(self) -> tuple[str, tuple]:
        occur = "should"
        while (t := self.peek()) is not None and t.kind in ("sign", "NOT"):
            occur = "must" if (t.kind == "sign" and t.val == "+") else "must_not"
            self.i += 1
        return occur, self._parse_primary()

    def _parse_primary(self) -> tuple:
        t = self.peek()
        if t is None or t.kind in (")", "AND", "OR"):
            raise ValueError("expected a term, phrase or '(' group")
        self.i += 1
        if t.kind == "(":
            children = self._collect_children()
            rp = self.peek()
            if rp is None or rp.kind != ")":
                raise ValueError("unbalanced '(' in query")
            self.i += 1
            return _mk_node(children, msm_override=rp.msm, boost=rp.boost)
        if t.kind == "phrase":
            toks = tokenize_text(t.val)
            if not toks:
                raise ValueError("empty phrase in query")
            return ("phrase", " ".join(toks), t.slop, t.boost)
        leaves = _atom_leaves(t.val)
        if not leaves:
            raise ValueError(f"atom {t.val!r} tokenizes to nothing")
        if len(leaves) == 1:
            return leaves[0]
        return ("node", (), tuple(leaves), (), 1, 1.0)


def parse_bool_query(text: str) -> tuple:
    """Parse one nested-boolean query string into a parse tree (see the
    module docstring for the grammar). Raises ValueError on unbalanced
    parens, empty groups, or pure-operator input."""
    p = _Parser(_lex(text))
    node = _mk_node(p._collect_children())
    if p.peek() is not None:
        raise ValueError("unbalanced ')' in query")
    return node


def _flatten(node: tuple, mult: float, state: dict) -> tuple:
    """Assign clause ids to leaves (folding accumulated group boosts onto
    each leaf) and return the exec tree."""
    kind = node[0]
    if kind == "term":
        cl = state["next"]
        state["next"] += 1
        state["terms"].append((cl, node[1], node[2] * mult))
        return ("leaf", cl)
    if kind == "fuzzy":
        cl = state["next"]
        state["next"] += 1
        state["fuzzy"].append((cl, node[1], node[2], node[3] * mult))
        return ("leaf", cl)
    if kind == "wild":
        cl = state["next"]
        state["next"] += 1
        state["wild"].append((cl, node[1], node[2] * mult))
        return ("leaf", cl)
    if kind == "phrase":
        cl = state["next"]
        state["next"] += 1
        state["phrases"].append((cl, node[1], node[2], node[3] * mult))
        return ("leaf", cl)
    _, must, should, mnot, msm, boost = node
    m2 = mult * boost
    return (
        "node",
        tuple(_flatten(c, m2, state) for c in must),
        tuple(_flatten(c, m2, state) for c in should),
        # must_not children are membership-only: boosts are irrelevant.
        tuple(_flatten(c, 1.0, state) for c in mnot),
        int(msm),
    )


def search_bool(
    spark: SparkSession,
    index_dir: str,
    queries: str | list[str],
    k: int = 10,
    broadcast_filter: bool = True,
    max_clauses: int | None = None,
) -> DataFrame:
    """Ranked search for nested-boolean query strings over a single-field
    index; query_id = position in ``queries``. ONE scoring job for the
    whole batch (plus one positional job when any query quotes a phrase)
    — the same fused plan as dts.parser.search_batch, with the per-query
    boolean TREE shipped to the kernel instead of a flat m_map.

    Phrases always score as units here (PhraseQuery semantics — inside a
    boolean tree Lucene does the same; the flat parser's filter-mode
    word-scoring delta does not apply). Returns the engine-standard
    (query_id, doc_id, score, rank)."""
    from dts.parser import _expand_fuzzy_pairs, _expand_wildcard_pats
    from dts.phrase import phrase_syn_rows
    from dts.score_index import TOPK_SCHEMA, score_expanded_terms

    if isinstance(queries, str):
        queries = [queries]
    states = []
    tree_map: dict[int, tuple] = {}
    for qid, text in enumerate(queries):
        state = {"next": 0, "terms": [], "fuzzy": [], "wild": [],
                 "phrases": []}
        tree_map[qid] = _flatten(parse_bool_query(text), 1.0, state)
        states.append(state)
    # Batch-wide expansions: one driver-path (or one distributed) call
    # for every fuzzy pair / wildcard pattern across all queries.
    fuzzy_exp = _expand_fuzzy_pairs(
        spark, index_dir,
        [(t, kk) for st in states for _, t, kk, _ in st["fuzzy"]],
    )
    from dts.wildcard import MAX_CLAUSES

    wild_exp = _expand_wildcard_pats(
        spark, index_dir,
        [p for st in states for _, p, _ in st["wild"]],
        MAX_CLAUSES if max_clauses is None else max_clauses,
    )
    rows: list[tuple[int, int, int, str, float]] = []
    ph_meta: list[tuple] = []
    live_qids: set[int] = set()
    for qid, st in enumerate(states):
        q_rows: list[tuple[int, int, int, str, float]] = []
        for cl, t, b in st["terms"]:
            q_rows.append((qid, cl, 0, t, b))
        for cl, t, kk, b in st["fuzzy"]:
            q_rows.extend((qid, cl, 0, et, b) for et in fuzzy_exp[(t, kk)])
        for cl, p, b in st["wild"]:
            q_rows.extend((qid, cl, 0, et, b) for et in wild_exp[p])
        if not q_rows and not st["phrases"]:
            continue
        live_qids.add(qid)
        rows.extend(q_rows)
        for cl, ph, slop, b in st["phrases"]:
            ph_meta.append((len(ph_meta), qid, cl, 1, 1, ph, slop, b))
    if not live_qids:
        return spark.createDataFrame([], TOPK_SCHEMA)
    syn = phrase_syn_rows(spark, index_dir, ph_meta, with_dl=True)
    qterms = local_rows_df(
        spark, rows, "query_id long, clause int, role int, term string, boost double"
    )
    return score_expanded_terms(
        spark, index_dir, qterms, n_queries=len(live_qids), k=k,
        strategy="taat", mode="tree",
        m_map=tree_map, broadcast_filter=broadcast_filter,
        all_terms=sorted({r[3] for r in rows}), syn_rows=syn,
    )
