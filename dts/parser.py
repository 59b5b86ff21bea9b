"""Lucene-style query-string parser + one-call ranked search.

The engine's surfaces (disjunctive BM25, fuzzy expansion, wildcard/prefix
rewrites, boolean MUST/MUST_NOT, phrase matching, the filter context) are
separate operators; a search USER types one string. This module parses
the Lucene query-string dialect the operators can jointly express and
composes them into a single ranked query:

    fast +join -slow "table scan" quer* fuzz~1

- bare term        → scores (disjunctive BM25), optional for matching
- ``+term``        → scores AND is required (MUST)
- ``-term``        → excluded (MUST_NOT; never scores)
- ``"a b"``        → required phrase (positional index); its words also
                     score individually. (Delta vs Lucene, which scores
                     the phrase as a unit by phrase frequency — the
                     per-word contribution is this engine's documented
                     semantic; the REQUIRED-match part is identical.)
- ``term~k``       → fuzzy clause: every vocabulary term within edit
                     distance k scores (Lucene FuzzyQuery rewrite)
- ``wild*card``    → wildcard rewrite: every matching term scores once
                     (BooleanQuery rewrite; leading ``*`` uses the
                     reversed dictionary)
- ``-"a b"``       → excluded phrase
- ``term^2``       → boost: the element's contribution is multiplied
                     (Lucene ``^``; works on terms, phrases — incl.
                     ``"a b"~2^1.5`` — wildcards and fuzzy atoms;
                     ignored on ``-`` elements, which never score)
- ``f:[a TO b]``   → range filter over the STORED field ``f`` (doc_meta
                     sidecar — Lucene Term/NumericRangeQuery on doc
                     values): required match, never scores (filter
                     context); ``{`` ``}`` exclusive endpoints, ``*``
                     open; ``-f:[a TO b]`` excludes the range

Composition: ONE scoring job. Term-level MUST/MUST_NOT algebra runs
INSIDE the scorer (``mode='mixed'``: role-typed clause rows — required
clauses intersect, excluded terms contribute only their doc sets), so a
``a +b -c`` query costs exactly one Spark job; only quoted PHRASES add
jobs (positional resolution via dts.phrase, riding the filter context —
``doc_filter`` allow-list masked before top-k, full-corpus stats).

Scale: every component inherits its operator's bounds (bucket-exact
groups, IN-list caps, colocated filter join). The eligibility set of a
head-term ``+must`` query can be corpus-scale; pass
``broadcast_filter=False`` in that regime, exactly as documented on
bm25_topk_indexed.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from dts.io import local_rows_df

from dts.tokenizer import tokenize_text

_ELEMENT = re.compile(
    r"""(?P<sign>[+-]?)                    # optional modifier
        (?:(?P<field>[A-Za-z_][\w.]*):)?   # optional field scope
        (?:"(?P<phrase>[^"]*)"             # quoted phrase
           (?:~(?P<pslop>\d+))?            #   optional slop: "a b"~2
           (?:\^(?P<pboost>\d+(?:\.\d+)?))?  # optional boost: "a b"^1.5
         | (?P<range>[\[{][^\]}]*[\]}])    # range: [a TO b] / {a TO b}
         | (?P<atom>\S+))                  # or a bare atom
    """,
    re.VERBOSE,
)

_RANGE_BODY = re.compile(r"\s*(?P<lo>\S+)\s+TO\s+(?P<hi>\S+)\s*")
_ATOM_BOOST = re.compile(r"(?P<body>.*[^\s^])\^(?P<b>\d+(?:\.\d+)?)")


def _boost_lists() -> dict[str, list[float]]:
    return {
        k: []
        for k in (
            "score_terms", "phrase_terms", "must", "fuzzy", "must_fuzzy",
            "wildcards", "must_wildcards", "phrases",
        )
    }


@dataclass
class ParsedQuery:
    """Structured form of one query string. Signed fuzzy/wildcard atoms
    keep their modifier semantics (round-5 ADVICE — previously ``-quer*``
    silently excluded the literal term 'quer' and ``+fuzz~1`` lost its
    MUST): a required fuzzy/wildcard is ONE clause satisfied by any of
    its expansions; a negated one excludes every expanded term."""

    score_terms: list[str] = field(default_factory=list)   # plain scoring
    # words of required phrases, kept separate from score_terms so the
    # two phrase semantics can differ: filter mode scores them
    # individually (the round-4 documented delta), scored mode scores the
    # phrase AS A UNIT instead (Lucene PhraseQuery parity, round 5).
    phrase_terms: list[str] = field(default_factory=list)
    fuzzy: list[tuple[str, int]] = field(default_factory=list)
    wildcards: list[str] = field(default_factory=list)
    must: list[str] = field(default_factory=list)          # also score
    must_not: list[str] = field(default_factory=list)
    phrases: list[str] = field(default_factory=list)       # required
    not_phrases: list[str] = field(default_factory=list)
    # Per-phrase slop, parallel to phrases / not_phrases (``"a b"~2``;
    # 1 = exact consecutive tokens). Engine slop semantics: ordered
    # chain, every adjacent gap in [1, slop] — see
    # dts.phrase.phrase_match_counts for the delta vs Lucene.
    phrase_slops: list[int] = field(default_factory=list)
    not_phrase_slops: list[int] = field(default_factory=list)
    must_fuzzy: list[tuple[str, int]] = field(default_factory=list)
    not_fuzzy: list[tuple[str, int]] = field(default_factory=list)
    must_wildcards: list[str] = field(default_factory=list)
    not_wildcards: list[str] = field(default_factory=list)
    # field name → sub-query for clauses scoped with ``field:`` (only
    # populated when parse_query is given the known-field set; clauses
    # scoped to the default field land on the top-level object).
    fielded: dict[str, "ParsedQuery"] = field(default_factory=dict)
    # Range constraints over STORED (doc_meta sidecar) fields — Lucene
    # TermRangeQuery/NumericRangeQuery syntax ``size:[100 TO 2000]``
    # (inclusive) / ``{.. ..}`` (exclusive), ``*`` = open endpoint.
    # Always filter context (required / excluded — never scoring), always
    # on the top-level query: ranges are doc-granular, and their field
    # names the sidecar column, not an indexed field. Tuples are
    # (field, lo, hi, lo_incl, hi_incl) with None for open endpoints.
    ranges: list[tuple] = field(default_factory=list)
    not_ranges: list[tuple] = field(default_factory=list)
    # Per-element boosts (Lucene ``term^2`` / ``"a b"^1.5`` / ``pat*^3``
    # / ``fuzz~1^2``): parallel lists keyed by the element bucket they
    # describe (phrase_terms carries its PHRASE's boost per word — the
    # filter-mode scoring contribution). Negated elements never score,
    # so their boosts are discarded (Lucene parses and ignores them
    # too). Read through ``boost_of`` which pads with 1.0, so manually
    # built ParsedQuery objects without boosts keep working.
    boosts: dict[str, list[float]] = field(default_factory=_boost_lists)

    def boost_of(self, key: str) -> list[float]:
        """Boost list for ``key``, padded with 1.0 to the bucket's
        length (robust to hand-built ParsedQuery instances)."""
        target = len(getattr(self, key))
        got = self.boosts.get(key, [])
        return list(got[:target]) + [1.0] * (target - len(got))

    @property
    def n_required(self) -> int:
        """Required clause count (the scorer's m_map target)."""
        return len(self.must) + len(self.must_fuzzy) + len(self.must_wildcards)

    @property
    def has_match_constraints(self) -> bool:
        return bool(
            self.must or self.must_not or self.phrases or self.not_phrases
            or self.must_fuzzy or self.not_fuzzy
            or self.must_wildcards or self.not_wildcards
        )


def _add_element(
    q: ParsedQuery,
    sign: str,
    phrase: str | None,
    atom: str | None,
    pslop: str | None = None,
    pboost: str | None = None,
) -> None:
    """Classify one query element into ``q``'s buckets."""
    boost = float(pboost) if pboost is not None else 1.0
    if phrase is not None:
        toks = tokenize_text(phrase)
        if not toks:
            return
        joined = " ".join(toks)
        slop = max(1, int(pslop)) if pslop is not None else 1
        if sign == "-":
            q.not_phrases.append(joined)
            q.not_phrase_slops.append(slop)
        else:
            q.phrases.append(joined)
            q.phrase_slops.append(slop)
            q.boosts["phrases"].append(boost)
            q.phrase_terms.extend(toks)
            q.boosts["phrase_terms"].extend([boost] * len(toks))
        return
    bm = _ATOM_BOOST.fullmatch(atom)
    if bm:
        atom = bm.group("body")
        boost = float(bm.group("b"))
    fm = re.fullmatch(r"(?P<t>[^~\s]+)~(?P<k>\d+)", atom)
    if fm:
        kk = int(fm.group("k"))
        dest, bkey = {
            "": (q.fuzzy, "fuzzy"),
            "+": (q.must_fuzzy, "must_fuzzy"),
            "-": (q.not_fuzzy, None),
        }[sign]
        for t in tokenize_text(fm.group("t")):
            dest.append((t, kk))
            if bkey:
                q.boosts[bkey].append(boost)
        return
    if "*" in atom:
        pat = atom.lower()
        if set(pat) - {"*"}:
            dest, bkey = {
                "": (q.wildcards, "wildcards"),
                "+": (q.must_wildcards, "must_wildcards"),
                "-": (q.not_wildcards, None),
            }[sign]
            dest.append(pat)
            if bkey:
                q.boosts[bkey].append(boost)
        return
    toks = tokenize_text(atom)
    if sign == "-":
        q.must_not.extend(toks)
    elif sign == "+":
        q.must.extend(toks)
        q.boosts["must"].extend([boost] * len(toks))
    else:
        q.score_terms.extend(toks)
        q.boosts["score_terms"].extend([boost] * len(toks))


def parse_query(
    text: str,
    fields: set[str] | dict | None = None,
    default_field: str | None = None,
) -> ParsedQuery:
    """Parse one query string into its operator components. Atoms run
    through the shared engine tokenizer, so ``Fast-Join`` splits exactly
    as the index did at build time.

    ``fields`` (round-5, Lucene QueryParser parity): the known field
    names. A ``field:`` prefix on any atom or quoted phrase — including
    signed and fuzzy/wildcard atoms (``+path:util``, ``-lang:py*``,
    ``title:"b tree"``) — routes that element into
    ``q.fielded[field]`` (or onto the top-level query when field ==
    ``default_field``). A prefix naming an UNKNOWN field is not a scope:
    the element is parsed as if unscoped (the atom keeps its literal
    ``field:rest`` text through the tokenizer, which splits on ':' —
    identical to the fields=None behavior)."""
    q = ParsedQuery()
    for m in _ELEMENT.finditer(text or ""):
        sign, f_name, phrase, atom = (
            m.group("sign"), m.group("field"), m.group("phrase"),
            m.group("atom"),
        )
        rng = m.group("range")
        if rng is not None:
            # Ranges name SIDECAR fields (validated at execution against
            # store_fields), so they bypass the indexed-field check and
            # always land on the top-level query.
            body = _RANGE_BODY.fullmatch(rng[1:-1])
            if f_name is None or body is None:
                raise ValueError(
                    f"malformed range {sign}{f_name + ':' if f_name else ''}"
                    f"{rng}: expected field:[lo TO hi] (or {{}} for "
                    "exclusive endpoints, * for open)"
                )
            lo, hi = body.group("lo"), body.group("hi")
            tup = (
                f_name,
                None if lo == "*" else lo,
                None if hi == "*" else hi,
                rng[0] == "[",
                rng[-1] == "]",
            )
            (q.not_ranges if sign == "-" else q.ranges).append(tup)
            continue
        if f_name is not None and (fields is None or f_name not in fields):
            # Unknown field prefix: restore the literal element.
            if atom is not None:
                atom = f"{f_name}:{atom}"
            f_name = None
        target = q
        if f_name is not None and f_name != default_field:
            target = q.fielded.setdefault(f_name, ParsedQuery())
        _add_element(
            target, sign, phrase, atom, m.group("pslop"), m.group("pboost")
        )
    return q


def search_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[str],
    k: int = 10,
    strategy: str = "taat",
    broadcast_filter: bool = True,
    max_clauses: int | None = None,
    phrase_mode: str = "filter",
) -> DataFrame:
    """Batched ranked search: query_id = position in ``queries``.

    EVERYTHING fuses into ONE scoring job (round-5): all queries'
    role-typed clause rows share one qterms table and per-query m_map,
    and every phrase constraint across the batch becomes a SYNTHETIC
    CLAUSE ROW (dts.phrase.phrase_syn_rows): one positional job resolves
    all phrases, the matches are reshaped into per-(phrase, bucket)
    doc/tf/dl arrays and unioned with the real posting rows, and the
    scoring kernel enforces the phrase algebra through the same clause
    intersection it already runs for ``+term`` — a required phrase is one
    more role-1 clause (m_map counts it), an excluded phrase one more
    role-2 doc set. No allow-list join, no anchor job, no re-rank stage:
    a phrase-free batch costs one Spark job; a phrase-carrying batch one
    positional job feeding the one scoring job.

    ``phrase_mode``:
    - ``"filter"`` (default, the round-4 documented semantic): a quoted
      phrase is a match REQUIREMENT; its words score individually (the
      phrase's synthetic row is membership-only — zero contribution).
      Identical ranked set to the pre-fusion allow-list: every
      phrase-matching doc contains the phrase's words, which are scoring
      clauses here, so clause intersection and allow-masking agree.
    - ``"scored"`` (Lucene PhraseQuery parity, round-5 verdict #4): the
      phrase scores AS A UNIT — its synthetic row carries tf = per-doc
      phrase frequency and df = docs containing the phrase, the exact
      BM25 formula (spec dts.oracle.phrase_bm25_score) — and its words
      do NOT individually score; the match requirement is unchanged.
      Phrase-only-matching docs stay eligible exactly when the query has
      no other required clause (the intersection is then the phrase's
      own doc set)."""
    from dts.phrase import phrase_syn_rows
    from dts.score_index import TOPK_SCHEMA, score_expanded_terms

    if phrase_mode not in ("filter", "scored"):
        raise ValueError(f"unknown phrase_mode {phrase_mode!r}")
    scored_phrases = phrase_mode == "scored"
    parsed = [parse_query(t) for t in queries]
    rows_by_q: dict[int, list[tuple[int, int, int, str, float]]] = {}
    m_map: dict[int, int] = {}
    # (phrase_id, query_id, clause, role, scored, text, slop, boost): phrase
    # clause ids start at q.n_required — after the required
    # term/fuzzy/wildcard clauses, never colliding.
    ph_meta: list[tuple[int, int, int, int, int, str, int, float]] = []
    range_by_qid: dict[int, dict] = {}
    for qid, q in enumerate(parsed):
        rows = _clause_rows(
            spark, index_dir, q, qid, max_clauses,
            include_phrase_terms=not scored_phrases,
        )
        if not any(role != 2 for _, _, role, *_ in rows):
            # Nothing scores — unless scored phrases make the phrase
            # itself the scoring clause. (A PURE-range query likewise
            # skips: ranges are a filter context with no scoring clause;
            # compose dts.docvalues.range_docs with a match surface for
            # constant-score range retrieval.)
            if not (scored_phrases and q.phrases):
                continue
        rows_by_q[qid] = rows
        m_map[qid] = q.n_required + len(q.phrases)
        if q.ranges or q.not_ranges:
            range_by_qid[qid] = {
                "ranges": q.ranges, "not_ranges": q.not_ranges,
            }
        next_clause = q.n_required
        for ph, slop, b in zip(
            q.phrases, q.phrase_slops, q.boost_of("phrases")
        ):
            ph_meta.append(
                (len(ph_meta), qid, next_clause, 1,
                 1 if scored_phrases else 0, ph, slop, b)
            )
            next_clause += 1
        for ph, slop in zip(q.not_phrases, q.not_phrase_slops):
            ph_meta.append((len(ph_meta), qid, -2, 2, 0, ph, slop, 1.0))
    if not rows_by_q:
        return spark.createDataFrame([], TOPK_SCHEMA)
    syn = phrase_syn_rows(
        spark, index_dir, ph_meta, with_dl=scored_phrases
    )
    doc_filter = filter_qids = None
    if range_by_qid:
        # Range constraints (sidecar doc-values) become PER-QUERY filter
        # contexts: one pushed-down sidecar scan per ranged query, fused
        # into the scoring job through the (query_id, bucket)-keyed
        # allow-list join; unranged queries in the batch stay unfiltered
        # via the filter_qids gate.
        from dts.docvalues import range_filter_batch

        doc_filter = range_filter_batch(spark, index_dir, range_by_qid)
        filter_qids = set(range_by_qid)
    rows = [r for qid in sorted(rows_by_q) for r in rows_by_q[qid]]
    qterms = local_rows_df(
        spark,
        rows,
        "query_id long, clause int, role int, term string, boost double",
    )
    return score_expanded_terms(
        spark, index_dir, qterms, n_queries=len(rows_by_q), k=k,
        strategy=strategy, mode="mixed",
        m_map=m_map, broadcast_filter=broadcast_filter,
        all_terms=sorted({r[3] for r in rows}), syn_rows=syn,
        doc_filter=doc_filter, filter_qids=filter_qids,
    )


def _expand_fuzzy_pairs(
    spark: SparkSession, index_dir: str, pairs: list[tuple[str, int]]
) -> dict[tuple[str, int], list[str]]:
    """(term, k) → matched vocabulary terms, driver path when the vocab
    fits the cap, one distributed expansion otherwise."""
    from dts.index_build import load_meta
    from dts.score_index import DRIVER_EXPAND_VOCAB_CAP, _driver_vocab

    uniq = sorted(set(pairs))
    if not uniq:
        return {}
    meta = load_meta(index_dir)
    if meta.get("vocab_size", 0) <= DRIVER_EXPAND_VOCAB_CAP:
        from dts.fuzzy import expand_fuzzy_local

        return expand_fuzzy_local(uniq, _driver_vocab(spark, index_dir, meta))
    from dts.fuzzy import expand_fuzzy_terms
    from dts.score_index import load_index

    idx = load_index(spark, index_dir)
    fz = local_rows_df(
        spark,
        [(i, 0, t, kk) for i, (t, kk) in enumerate(uniq)],
        "query_id long, clause int, qterm string, fuzzy_k int",
    )
    out: dict[tuple[str, int], list[str]] = {p: [] for p in uniq}
    for r in expand_fuzzy_terms(
        fz, idx["term_stats"].select("term"), idx.get("trigrams")
    ).collect():
        out[uniq[int(r["query_id"])]].append(r["term"])
    return out


def _expand_wildcard_pats(
    spark: SparkSession, index_dir: str, pats: list[str], max_clauses: int
) -> dict[str, list[str]]:
    """pattern → matched vocabulary terms, ONE expansion call for all of a
    query's patterns. A pattern expanding wider than ``max_clauses``
    raises TooManyClauses — inside a composed boolean query there is no
    constant-score fallback to switch to (Lucene's QueryParser throws the
    same way)."""
    from dts.wildcard import TooManyClauses, expand_wildcard_terms

    uniq = sorted(set(pats))
    if not uniq:
        return {}
    wq = local_rows_df(
        spark,
        list(enumerate(uniq)), "wq_id long, pattern string"
    )
    out: dict[str, list[str]] = {p: [] for p in uniq}
    for r in expand_wildcard_terms(spark, index_dir, wq).collect():
        out[uniq[int(r["wq_id"])]].append(r["term"])
    over = {p: len(ts) for p, ts in out.items() if len(ts) > max_clauses}
    if over:
        raise TooManyClauses(
            f"wildcard expansion exceeds max_clauses={max_clauses} inside "
            f"a query string for patterns {over}; narrow the pattern, "
            "raise max_clauses, or use wildcard_match_docs"
        )
    return out


def _clause_rows(
    spark: SparkSession,
    index_dir: str,
    q: ParsedQuery,
    qid: int,
    max_clauses: int | None = None,
    include_phrase_terms: bool = True,
) -> list[tuple[int, int, int, str, float]]:
    """Role-typed clause rows for one parsed query (shared by search and
    search_batch): bare atoms and OPTIONAL fuzzy/wildcard expansions are
    role 0; ``+`` atoms are role 1 (one clause each — a required
    fuzzy/wildcard is ONE clause satisfied by any of its expansions);
    ``-`` atoms are role 2 (negated fuzzy/wildcards exclude every
    expansion). Required-clause count = q.n_required (m_map).
    ``include_phrase_terms``: score required phrases' words individually
    (filter mode); scored mode passes False and scores the phrase as a
    unit instead.

    Rows are (query_id, clause, role, term, boost): each row contributes
    boost · idf · impact once (Lucene ``^`` boosts — every expansion of
    a boosted fuzzy/wildcard inherits the element's boost; negated
    elements never score, so their boost is discarded)."""
    from dts.wildcard import MAX_CLAUSES

    if max_clauses is None:
        max_clauses = MAX_CLAUSES
    score_elems = list(zip(q.score_terms, q.boost_of("score_terms")))
    if include_phrase_terms:
        score_elems += list(zip(q.phrase_terms, q.boost_of("phrase_terms")))
    rows: list[tuple[int, int, int, str, float]] = [
        (qid, -1, 0, t, b) for t, b in score_elems
    ]
    rows.extend(
        (qid, ci, 1, t, b)
        for ci, (t, b) in enumerate(zip(q.must, q.boost_of("must")))
    )
    rows.extend((qid, -2, 2, t, 1.0) for t in sorted(set(q.must_not)))
    fuzzy_exp = _expand_fuzzy_pairs(
        spark, index_dir, q.fuzzy + q.must_fuzzy + q.not_fuzzy
    )
    for (t, kk), b in zip(q.fuzzy, q.boost_of("fuzzy")):
        rows.extend((qid, -1, 0, et, b) for et in fuzzy_exp[(t, kk)])
    next_clause = len(q.must)
    for (t, kk), b in zip(q.must_fuzzy, q.boost_of("must_fuzzy")):
        rows.extend(
            (qid, next_clause, 1, et, b) for et in fuzzy_exp[(t, kk)]
        )
        next_clause += 1
    for t, kk in q.not_fuzzy:
        rows.extend(
            (qid, -2, 2, et, 1.0) for et in sorted(set(fuzzy_exp[(t, kk)]))
        )
    wild_exp = _expand_wildcard_pats(
        spark, index_dir,
        q.wildcards + q.must_wildcards + q.not_wildcards, max_clauses,
    )
    for pat, b in zip(q.wildcards, q.boost_of("wildcards")):
        rows.extend((qid, -1, 0, et, b) for et in wild_exp[pat])
    for pat, b in zip(q.must_wildcards, q.boost_of("must_wildcards")):
        rows.extend((qid, next_clause, 1, et, b) for et in wild_exp[pat])
        next_clause += 1
    for pat in q.not_wildcards:
        rows.extend((qid, -2, 2, et, 1.0) for et in sorted(set(wild_exp[pat])))
    return rows


def search_fields(
    spark: SparkSession,
    mf_dir: str,
    queries: str | list[str],
    k: int = 10,
    default_field: str | None = None,
    max_clauses: int | None = None,
    combine: str = "sum",
    tie_breaker: float = 0.0,
) -> DataFrame:
    """One-call ranked search over a MULTIFIELD index with the full
    query-string grammar (round-5 verdict #3 — one grammar, one call,
    Lucene QueryParser parity): ``path:util +parse "b tree" -lang:py*``
    routes each scoped element (bare / ``+`` / ``-`` / phrase / fuzzy /
    wildcard) to its field's sub-index, defaults the rest, and ranks by
    score(q, d) = Σ_field boost_f · BM25_f(scoring clauses of f, d) over
    docs satisfying EVERY required clause (in its field), NO excluded
    clause, and every (field-scoped) phrase constraint.

    ``combine`` (cross-field score combination): ``"sum"`` (default —
    the BM25F-style weighted sum above) or ``"dismax"`` (Lucene
    DisjunctionMaxQuery: the BEST field's score wins, plus
    ``tie_breaker`` × the other fields' sum — the classic fix for the
    'common word in two weak fields outranks a strong title hit'
    failure of plain summing). Per-field scores are already
    boost-weighted when combined. tie_breaker=1.0 degenerates to sum;
    the matching algebra (required/excluded/phrases) is unchanged.

    Plan shape — one execution path at every bucket count: ONE scoring
    job in which every field's pruned posting rows (clause/role-tagged,
    plus phrase synthetic rows) union into one mapInPandas pass per
    (query, shard) (multifield.fused_multifield_topk, the plan shared
    with bm25_topk_multifield; ``scoring_shards`` sets the fanout) whose
    kernel scores all fields, enforces the cross-field Σreq == m ∧ ¬excl
    algebra, and emits k rows per group — no candidate emission, no
    hash-agg stage, no filter join, no local window. Phrase
    constraints ride INSIDE the scoring rows as synthetic clause rows
    (dts.phrase.phrase_syn_rows — one positional job per field with
    phrases, all queries fused): a required phrase is one more
    req-counted clause (m_total counts it), an excluded phrase one more
    excl flag.

    Returns the engine-standard (query_id, doc_id, score, rank) with
    query_id = position in ``queries``."""
    from dts.multifield import fused_multifield_topk, load_multifield_meta
    from dts.phrase import phrase_syn_rows
    from dts.score_index import POSTING_SCORE_COLS, TOPK_SCHEMA, term_filter

    if isinstance(queries, str):
        queries = [queries]
    if combine not in ("sum", "dismax"):
        raise ValueError(f"unknown combine {combine!r}")
    meta = load_multifield_meta(mf_dir)
    fields: dict[str, float] = meta["fields"]
    if default_field is None:
        default_field = (
            "content" if "content" in fields else next(iter(sorted(fields)))
        )
    per_field_rows: dict[str, list[tuple[int, int, int, str, float]]] = {}
    m_total: dict[int, int] = {}
    # field → (phrase_id, query_id, clause, role, scored, text, slop,
    # boost) rows for
    # phrase_syn_rows; phrase clause ids start at the query's required
    # clause count WITHIN that field (the fused kernel counts each
    # field's matched clauses separately and sums across fields).
    ph_by_field: dict[str, list[tuple]] = {}
    for qid, text in enumerate(queries):
        pq = parse_query(text, fields=fields, default_field=default_field)
        parts = {default_field: pq, **pq.fielded}
        m_total[qid] = 0
        for f_name, part in parts.items():
            rows = _clause_rows(
                spark, f"{mf_dir}/field={f_name}", part, qid, max_clauses
            )
            if rows:
                per_field_rows.setdefault(f_name, []).extend(rows)
            # Required clauses count toward the target even when their
            # expansion is empty — no doc can then reach it, which is
            # exactly Lucene's +nonexistent ⇒ no results.
            m_total[qid] += part.n_required + len(part.phrases)
            next_clause = part.n_required
            for ph, slop in zip(part.phrases, part.phrase_slops):
                fl = ph_by_field.setdefault(f_name, [])
                fl.append((len(fl), qid, next_clause, 1, 0, ph, slop, 1.0))
                next_clause += 1
            for ph, slop in zip(part.not_phrases, part.not_phrase_slops):
                fl = ph_by_field.setdefault(f_name, [])
                fl.append((len(fl), qid, -2, 2, 0, ph, slop, 1.0))
    if not per_field_rows and not ph_by_field:
        return spark.createDataFrame([], TOPK_SCHEMA)

    def field_leg(f_name: str, idx: dict):
        rows = per_field_rows.get(f_name, [])
        terms = sorted({r[3] for r in rows})
        qterms = local_rows_df(
            spark,
            rows,
            "query_id long, clause int, role int, term string, boost double",
        )
        syn = phrase_syn_rows(
            spark, f"{mf_dir}/field={f_name}",
            ph_by_field.get(f_name, []), with_dl=False,
        )
        return (
            term_filter(idx["postings"].select(*POSTING_SCORE_COLS), terms),
            term_filter(idx["term_stats"], terms).select("term", "df"),
            qterms,
            syn,
        )

    return fused_multifield_topk(
        spark, mf_dir, fields, sorted(set(per_field_rows) | set(ph_by_field)),
        field_leg, k, m_map=m_total, combine=combine,
        tie_breaker=tie_breaker,
    )


def search(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    strategy: str = "taat",
    broadcast_filter: bool = True,
    max_clauses: int | None = None,
    phrase_mode: str = "filter",
) -> DataFrame:
    """One-call ranked search for a Lucene-style query string — the
    single-query view of ``search_batch`` (same composition, query_id =
    0). Returns the engine-standard (query_id, doc_id, score, rank)."""
    return search_batch(
        spark, index_dir, [query], k=k, strategy=strategy,
        broadcast_filter=broadcast_filter,
        max_clauses=max_clauses, phrase_mode=phrase_mode,
    )
