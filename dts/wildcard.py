"""Prefix / wildcard term queries: dictionary-range expansion + rewrite.

Lucene resolves ``fa*`` by seeking the term dictionary to the literal
prefix and scanning until the range ends, then rewriting the query as the
disjunction of matched terms. The Spark-native analogue exploits the fact
that ``term_stats`` (and ``postings``) are written TERM-SORTED: a prefix
becomes a ``term >= p AND term < next(p)`` range predicate that parquet
row-group min/max stats prune — the dictionary "seek" is a pruned columnar
scan, no Python in the plan.

Pattern language: ``*`` matches any (possibly empty) run of characters;
everything else is literal. The literal prefix before the first ``*``
drives the range pushdown; the residual pattern applies as an anchored
JVM-side ``rlike``. A LEADING-wildcard pattern (``*ing``) is resolved
through the REVERSED term dictionary (round 4 — Lucene's
ReversedWildcardFilter): ``match(t, '*ing') ⟺ match(reverse(t), 'gni*')``,
so the rewrite becomes a prefix range over the rterm-sorted ``terms_rev``
table (plan-asserted pushdown) — no vocabulary scan at any size. Only a
pattern BOTH starting and ending with ``*`` (``*a*``) still has no
prunable anchor on either side and scans the dictionary, exactly as
Lucene does. Indexes built before round 4 (no ``terms_rev`` dir) fall
back to the scan transparently.

Scoring rewrite semantics match Lucene's BooleanQuery rewrite: each
matched term contributes its own idf·impact exactly once (distinct term
set per query).
"""

from __future__ import annotations

import bisect
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from dts.io import local_rows_df

from dts import score_index as _si
from dts.score_index import (
    MAX_ISIN_TERMS,
    TOPK_SCHEMA,
    load_index,
    score_expanded_terms,
    scoring_shards,
)

# Lucene's IndexSearcher.maxClauseCount default: a scored multi-term
# rewrite wider than this either errors (TooManyClauses) or auto-switches
# to the constant-score rewrite, depending on ``on_too_many``. Without a
# budget, a wide pattern silently becomes a ~4,000-term scored rewrite
# (measured 26 s at 480k docs) — and vocabulary grows with the corpus, so
# at 100× the width is unbounded (round-4 verdict #2).
MAX_CLAUSES = 1024


class TooManyClauses(ValueError):
    """A pattern expanded to more scored clauses than ``max_clauses``
    (Lucene BooleanQuery.TooManyClauses parity). Remedies: raise
    ``max_clauses``, narrow the pattern, or use the constant-score
    surface (wildcard_match_docs / regex_match_docs — or pass
    ``on_too_many='constant'`` to auto-switch)."""


def _clause_counts(expanded: DataFrame, id_col: str) -> dict[int, int]:
    """Per-query expansion width — one client-sized agg (a LocalRelation
    no-op on the driver-expansion path, one pruned dictionary-leg agg on
    the distributed path)."""
    return {
        int(r[id_col]): int(r["n"])
        for r in expanded.groupBy(id_col).agg(F.count("*").alias("n")).collect()
    }


def _constant_score_topk(
    spark: SparkSession,
    index_dir: str,
    expanded: DataFrame,
    k: int,
    max_isin_terms: int,
) -> DataFrame:
    """Lucene CONSTANT_SCORE rewrite as a top-k frame: every matching doc
    scores 1.0; the k lowest doc_ids per query are returned (index order,
    Lucene's tie-break for equal scores). Input: (wq_id, term)."""
    from pyspark.sql import Window

    docs = _match_docs_from_expansion(
        spark, index_dir, expanded, terms=None, max_isin_terms=max_isin_terms,
        per_group_limit=k,
    )
    # per_group_limit=k: each (query, bucket-shard) group emits only its
    # k smallest doc_ids (docs decode bucket-ordered), so this window
    # ranks k×shards rows — not the full corpus-scale hit set.
    w = Window.partitionBy("wq_id").orderBy(F.col("doc_id").asc())
    return (
        docs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("wq_id").alias("query_id"),
            "doc_id",
            F.lit(1.0).alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def _prefix_upper(prefix: str) -> str | None:
    """Smallest string greater than every string with this prefix: bump
    the last char that is not already the max codepoint, dropping the
    tail. None ⇒ no finite upper bound (empty or all-max prefix)."""
    for i in range(len(prefix) - 1, -1, -1):
        if ord(prefix[i]) < 0x10FFFF:
            return prefix[:i] + chr(ord(prefix[i]) + 1)
    return None


def _reverse_pattern(pattern: str) -> str:
    """match(t, p) ⟺ match(reverse(t), _reverse_pattern(p)): reverse the
    literal parts AND their order, keeping the stars between them.
    '*ing' → 'gni*', '*a*b' → 'b*a*', 'jo*n' → 'n*oj'."""
    return "*".join(part[::-1] for part in reversed(pattern.split("*")))


def _pattern_filter(pattern: str, col: str = "term"):
    """Column predicate for one pattern: equality for literal patterns, a
    range predicate (row-group-prunable) for the literal prefix plus an
    anchored rlike residual when the pattern has inner/trailing parts."""
    star = pattern.find("*")
    if star < 0:
        return F.col(col) == pattern
    prefix = pattern[:star]
    cond = F.lit(True)
    if prefix:
        cond = F.col(col) >= prefix
        up = _prefix_upper(prefix)
        if up is not None:
            cond = cond & (F.col(col) < up)
    if pattern == prefix + "*":  # pure prefix: the range IS the match
        return cond
    rx = "^" + ".*".join(re.escape(p) for p in pattern.split("*")) + "$"
    return cond & F.col(col).rlike(rx)


def _expand_local(
    pattern_rows: list[tuple[int, str]], vocab_struct: dict
) -> list[tuple[int, str]]:
    """Driver-side expansion over the cached vocabulary: bisect the sorted
    term list to the prefix range (the in-memory form of the parquet
    range pushdown), regex-filter the residual. Identical output to the
    distributed legs (tested)."""
    terms = vocab_struct.get("sorted_terms")
    if terms is None:
        terms = sorted(vocab_struct["terms"])
        vocab_struct["sorted_terms"] = terms  # cached with the struct
    out: list[tuple[int, str]] = []
    for wq_id, pattern in pattern_rows:
        star = pattern.find("*")
        if star < 0:
            i = bisect.bisect_left(terms, pattern)
            if i < len(terms) and terms[i] == pattern:
                out.append((wq_id, pattern))
            continue
        if star == 0:
            rp = _reverse_pattern(pattern)
            rstar = rp.find("*")
            if rstar > 0:
                # Leading wildcard with a literal TAIL: bisect the reversed
                # dictionary (the in-memory analogue of the terms_rev
                # parquet range pushdown) and un-reverse the matches.
                rterms = vocab_struct.get("sorted_rterms")
                if rterms is None:
                    rterms = sorted(t[::-1] for t in vocab_struct["terms"])
                    vocab_struct["sorted_rterms"] = rterms
                rprefix = rp[:rstar]
                lo = bisect.bisect_left(rterms, rprefix)
                rup = _prefix_upper(rprefix)
                hi = (
                    bisect.bisect_left(rterms, rup)
                    if rup is not None
                    else len(rterms)
                )
                cand = rterms[lo:hi]
                if rp != rprefix + "*":
                    rx = re.compile(
                        "^"
                        + ".*".join(re.escape(s) for s in rp.split("*"))
                        + "$"
                    )
                    cand = [t for t in cand if rx.match(t)]
                out.extend((wq_id, t[::-1]) for t in cand)
                continue
        prefix = pattern[:star]
        lo = bisect.bisect_left(terms, prefix) if prefix else 0
        up = _prefix_upper(prefix) if prefix else None
        hi = bisect.bisect_left(terms, up) if up is not None else len(terms)
        cand = terms[lo:hi]
        if pattern != prefix + "*":
            rx = re.compile(
                "^" + ".*".join(re.escape(p) for p in pattern.split("*")) + "$"
            )
            cand = [t for t in cand if rx.match(t)]
        out.extend((wq_id, t) for t in cand)
    return out


def _expand(
    spark: SparkSession,
    index_dir: str,
    patterns: DataFrame,
    local: bool | None = None,
) -> tuple[DataFrame, list[str] | None]:
    """(qterms df, distinct term list when known driver-side). ``local``:
    None = auto (driver path when the vocab fits the fuzzy-expansion cap —
    zero Spark jobs before scoring), True/False forces a path (tests,
    calibration)."""
    idx = load_index(spark, index_dir)
    meta = idx["meta"]
    rows = [
        (int(r["wq_id"]), r["pattern"])
        for r in patterns.select("wq_id", "pattern").collect()
    ]
    if local is None:
        local = bool(
            meta.get("vocab_size")
            and meta["vocab_size"] <= _si.DRIVER_EXPAND_VOCAB_CAP
        )
    if local:
        out = _expand_local(
            rows, _si._driver_vocab(spark, index_dir, meta)
        )
        qterms = (
            local_rows_df(spark, out, "wq_id long, term string")
            if out
            else spark.createDataFrame([], "wq_id long, term string")
        )
        return qterms, sorted({t for _, t in out})
    vocab = idx["term_stats"].select("term")
    legs = []
    for wq_id, pattern in rows:
        rp = _reverse_pattern(pattern)
        if (
            pattern.startswith("*")
            and rp.find("*") > 0
            and idx.get("terms_rev") is not None
        ):
            # Leading wildcard → prefix range over the reversed dictionary
            # (plan-asserted PushedFilters on rterm); the original term is
            # reverse(rterm).
            legs.append(
                idx["terms_rev"]
                .filter(_pattern_filter(rp, col="rterm"))
                .select(
                    F.lit(wq_id).cast("long").alias("wq_id"),
                    F.reverse(F.col("rterm")).alias("term"),
                )
            )
            continue
        legs.append(
            vocab.filter(_pattern_filter(pattern)).select(
                F.lit(wq_id).cast("long").alias("wq_id"), "term"
            )
        )
    if not legs:
        return spark.createDataFrame([], "wq_id long, term string"), []
    out_df = legs[0]
    for leg in legs[1:]:
        out_df = out_df.unionByName(leg)
    return out_df, None


def expand_wildcard_terms(
    spark: SparkSession,
    index_dir: str,
    patterns: DataFrame,
    local: bool | None = None,
) -> DataFrame:
    """(wq_id, term): distinct vocabulary terms matching each pattern.
    ``patterns`` needs (wq_id, pattern). Driver-sized vocabularies expand
    locally over the cached sorted term list (no Spark job at all — the
    same design as the fuzzy query path); larger vocabularies run one
    pruned term_stats scan leg per pattern, unioned — patterns are
    query-sized by the same contract as every query batch, so the union
    plan stays small while each leg keeps its own range pushdown."""
    qterms, _ = _expand(spark, index_dir, patterns, local)
    return qterms


# --- regex term queries (Lucene RegexpQuery, round 4) -------------------
# A regex matches WHOLE terms (fullmatch anchoring, Lucene semantics).
# The literal prefix before the first metacharacter drives the same
# dictionary range pushdown as wildcards (Lucene extracts it from the
# regex automaton's common prefix; this is the scalar version).

_REGEX_META = set(".?*+()[]{}|\\^$")


def _regex_literal_prefix(pattern: str) -> str:
    """Longest literal prefix every match must start with. A quantifier
    makes the preceding char optional, so it is dropped from the prefix."""
    out: list[str] = []
    for ch in pattern:
        if ch in _REGEX_META:
            if ch in "*?{" and out:
                out.pop()
            break
        out.append(ch)
    return "".join(out)


def expand_regex_terms(
    spark: SparkSession,
    index_dir: str,
    patterns: DataFrame,
    local: bool | None = None,
) -> tuple[DataFrame, list[str] | None]:
    """(qterms df, distinct term list when known driver-side) for anchored
    regex patterns over the vocabulary. ``patterns`` needs
    (rq_id, pattern). Driver-sized vocabularies filter the cached sorted
    term list (prefix bisect + re.fullmatch — no Spark job); larger ones
    run one pruned term_stats scan leg per pattern (prefix range pushed,
    anchored rlike residual), unioned."""
    idx = load_index(spark, index_dir)
    meta = idx["meta"]
    rows = [
        (int(r["rq_id"]), r["pattern"])
        for r in patterns.select("rq_id", "pattern").collect()
    ]
    if local is None:
        local = bool(
            meta.get("vocab_size")
            and meta["vocab_size"] <= _si.DRIVER_EXPAND_VOCAB_CAP
        )
    if local:
        vocab_struct = _si._driver_vocab(spark, index_dir, meta)
        terms = vocab_struct.get("sorted_terms")
        if terms is None:
            terms = sorted(vocab_struct["terms"])
            vocab_struct["sorted_terms"] = terms
        out: list[tuple[int, str]] = []
        for rq_id, pattern in rows:
            prefix = _regex_literal_prefix(pattern)
            lo = bisect.bisect_left(terms, prefix) if prefix else 0
            up = _prefix_upper(prefix) if prefix else None
            hi = bisect.bisect_left(terms, up) if up is not None else len(terms)
            rx = re.compile(pattern)
            out.extend(
                (rq_id, t) for t in terms[lo:hi] if rx.fullmatch(t)
            )
        qterms = (
            local_rows_df(spark, out, "rq_id long, term string")
            if out
            else spark.createDataFrame([], "rq_id long, term string")
        )
        return qterms, sorted({t for _, t in out})
    vocab = idx["term_stats"].select("term")
    legs = []
    for rq_id, pattern in rows:
        prefix = _regex_literal_prefix(pattern)
        cond = F.col("term").rlike(f"^(?:{pattern})$")
        if prefix:
            cond = (F.col("term") >= prefix) & cond
            up = _prefix_upper(prefix)
            if up is not None:
                cond = (F.col("term") < up) & cond
        legs.append(
            vocab.filter(cond).select(
                F.lit(rq_id).cast("long").alias("rq_id"), "term"
            )
        )
    if not legs:
        return spark.createDataFrame([], "rq_id long, term string"), []
    out_df = legs[0]
    for leg in legs[1:]:
        out_df = out_df.unionByName(leg)
    return out_df, None


def regex_match_counts(
    spark: SparkSession, index_dir: str, patterns: DataFrame
) -> DataFrame:
    """(rq_id, n_matches): TOTAL corpus token positions whose term
    fullmatches each regex — resolved entirely from term_stats.cf, like
    wildcard_match_counts. Patterns matching no term report 0."""
    idx = load_index(spark, index_dir)
    expanded, terms = expand_regex_terms(spark, index_dir, patterns)
    stats = idx["term_stats"].select("term", "cf")
    if terms is not None:
        from dts.score_index import term_filter

        stats = term_filter(stats, terms)
    counts = (
        expanded.join(stats, "term")
        .groupBy("rq_id")
        .agg(F.sum("cf").alias("n_matches"))
    )
    return (
        patterns.select("rq_id")
        .join(counts, "rq_id", "left")
        .select(
            "rq_id", F.coalesce("n_matches", F.lit(0)).alias("n_matches")
        )
    )


def _budgeted_scored_rewrite(
    spark: SparkSession,
    index_dir: str,
    expanded: DataFrame,
    terms: list[str] | None,
    n_queries: int,
    k: int,
    strategy: str,
    max_isin_terms: int,
    max_clauses: int,
    on_too_many: str,
) -> DataFrame:
    """Shared scored-rewrite tail with the Lucene clause budget. Input
    ``expanded`` = (wq_id, term). Queries whose expansion exceeds
    ``max_clauses`` either raise TooManyClauses (on_too_many='error') or
    take the constant-score rewrite (on_too_many='constant', the default
    — Lucene's MultiTermQuery default rewrite is constant-score for
    exactly this reason); the rest score normally, in one job."""
    if n_queries == 0:
        return spark.createDataFrame([], TOPK_SCHEMA)
    counts = _clause_counts(expanded, "wq_id")
    over = sorted(q for q, n in counts.items() if n > max_clauses)
    if not over:
        return score_expanded_terms(
            spark, index_dir,
            expanded.select(F.col("wq_id").alias("query_id"), "term"),
            n_queries, k=k, strategy=strategy,
            max_isin_terms=max_isin_terms, all_terms=terms,
        )
    if on_too_many == "error":
        widths = {q: counts[q] for q in over}
        raise TooManyClauses(
            f"scored rewrite exceeds max_clauses={max_clauses} for "
            f"queries {widths}; narrow the pattern, raise max_clauses, or "
            "use the constant-score surface (wildcard_match_docs / "
            "regex_match_docs, or on_too_many='constant')"
        )
    parts = [
        _constant_score_topk(
            spark, index_dir, expanded.filter(F.col("wq_id").isin(over)),
            k, max_isin_terms,
        )
    ]
    under = expanded.filter(~F.col("wq_id").isin(over))
    n_under = len([q for q in counts if q not in set(over)])
    if n_under:
        under_terms = None
        if terms is not None:
            # Client-sized by construction: every under-budget query holds
            # ≤ max_clauses terms.
            under_terms = sorted(
                {r["term"] for r in under.select("term").distinct().collect()}
            )
        parts.append(
            score_expanded_terms(
                spark, index_dir,
                under.select(F.col("wq_id").alias("query_id"), "term"),
                n_under, k=k, strategy=strategy,
                max_isin_terms=max_isin_terms, all_terms=under_terms,
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def bm25_topk_regex(
    spark: SparkSession,
    index_dir: str,
    patterns: DataFrame,
    k: int = 10,
    strategy: str = "taat",
    max_isin_terms: int = MAX_ISIN_TERMS,
    max_clauses: int = MAX_CLAUSES,
    on_too_many: str = "constant",
) -> DataFrame:
    """Top-k BM25 where each regex scores as the disjunction of its
    matched terms (Lucene RegexpQuery → BooleanQuery rewrite; each term's
    own idf once). Returns (query_id, doc_id, score, rank). Expansions
    wider than ``max_clauses`` follow ``on_too_many`` ('constant' =
    Lucene's constant-score rewrite, 'error' = TooManyClauses)."""
    expanded, terms = expand_regex_terms(spark, index_dir, patterns)
    return _budgeted_scored_rewrite(
        spark, index_dir,
        expanded.select(F.col("rq_id").alias("wq_id"), "term"), terms,
        patterns.count(), k, strategy, max_isin_terms,
        max_clauses, on_too_many,
    )


def wildcard_match_counts(
    spark: SparkSession, index_dir: str, patterns: DataFrame
) -> DataFrame:
    """(wq_id, n_matches): TOTAL corpus token positions matching each
    pattern — the reference's per-pattern counting surface
    (src/apm1.c:197-203) resolved entirely from term_stats.cf; postings
    are never touched. Patterns with no matching term report 0."""
    idx = load_index(spark, index_dir)
    expanded, terms = _expand(spark, index_dir, patterns)
    stats = idx["term_stats"].select("term", "cf")
    if terms is not None:
        from dts.score_index import term_filter

        stats = term_filter(stats, terms)
    counts = (
        expanded.join(stats, "term")
        .groupBy("wq_id")
        .agg(F.sum("cf").alias("n_matches"))
    )
    return (
        patterns.select("wq_id")
        .join(counts, "wq_id", "left")
        .select(
            "wq_id", F.coalesce("n_matches", F.lit(0)).alias("n_matches")
        )
    )


def regex_match_docs(
    spark: SparkSession,
    index_dir: str,
    patterns: DataFrame,
    max_isin_terms: int = MAX_ISIN_TERMS,
) -> DataFrame:
    """(rq_id, doc_id): constant-score REGEX rewrite — documents
    containing ≥1 term fullmatching each regex, no idf scoring. The same
    wide-pattern answer as wildcard_match_docs (a two-char-prefix regex
    expands to ~10³ terms at bench scale, where the scored rewrite pays
    an idf·impact accumulation per term); shares the decode+union
    machinery."""
    expanded, terms = expand_regex_terms(spark, index_dir, patterns)
    out = _match_docs_from_expansion(
        spark, index_dir,
        expanded.select(F.col("rq_id").alias("wq_id"), "term"),
        terms, max_isin_terms,
    )
    return out.select(F.col("wq_id").alias("rq_id"), "doc_id")


def wildcard_match_docs(
    spark: SparkSession,
    index_dir: str,
    patterns: DataFrame,
    max_isin_terms: int = MAX_ISIN_TERMS,
) -> DataFrame:
    """(wq_id, doc_id): documents containing ≥1 term matching the pattern
    — Lucene's CONSTANT-SCORE wildcard rewrite, the scale path for wide
    patterns where per-term idf scoring (bm25_topk_wildcard) pays ~10³
    idf·impact accumulations per query for a ranking the user often
    doesn't need. One decode + union per (pattern, bucket) group, exact
    and disjoint by bucket construction; tombstones anti-joined."""
    expanded, terms = _expand(spark, index_dir, patterns)
    return _match_docs_from_expansion(
        spark, index_dir, expanded, terms, max_isin_terms
    )


def _match_docs_from_expansion(
    spark: SparkSession,
    index_dir: str,
    expanded: DataFrame,
    terms: list[str] | None,
    max_isin_terms: int = MAX_ISIN_TERMS,
    per_group_limit: int | None = None,
) -> DataFrame:
    """Shared constant-score tail: (wq_id, term) expansion → distinct
    (wq_id, doc_id) via per-(query, bucket-shard) decode+union.
    ``per_group_limit``: emit only each group's N smallest doc_ids —
    exact for a global smallest-N merge (groups cover disjoint doc
    ranges), the top-k early-termination the scored kernel gets from its
    heap."""
    import numpy as np
    import pandas as pd

    from dts.delete import mask_deleted_rows

    idx = load_index(spark, index_dir)
    meta = idx["meta"]
    if terms is not None and not terms:
        return spark.createDataFrame([], "wq_id long, doc_id long")
    postings = idx["postings"]
    if terms is not None:
        from dts.score_index import term_filter

        postings = term_filter(postings, terms, max_isin_terms)
    else:
        postings = postings.join(
            F.broadcast(expanded.select("term").distinct()), "term", "left_semi"
        )
    joined = postings.join(F.broadcast(expanded), "term")
    block_size = meta["block_size"]

    def union_group(pdf: pd.DataFrame) -> pd.DataFrame:
        # Union needs no per-term grouping: decode every row, unique the
        # concatenation (row runs may overlap across terms — np.unique is
        # the union). Row-positional decode, no pandas filtering.
        from dts.codec import decode_postings, packed_rows

        wq_id = int(pdf["wq_id"].iloc[0])
        parts = [decode_postings(p)[0] for p in packed_rows(pdf, block_size)]
        docs = np.unique(np.concatenate(parts)) if parts else np.zeros(0, np.int64)
        if per_group_limit is not None:
            docs = docs[:per_group_limit]
        return pd.DataFrame(
            {
                "wq_id": np.full(len(docs), wq_id, dtype=np.int64),
                "doc_id": docs.astype(np.int64),
            }
        )

    # Shard buckets (the shared ``scoring_shards`` rule): union is exact
    # under ANY partition of buckets, and ~4×cores groups amortize the
    # per-group applyInPandas overhead that per-bucket groups pay.
    n_shards = scoring_shards(meta, spark.sparkContext.defaultParallelism)
    out = (
        joined.withColumn("shard", F.pmod(F.col("bucket"), F.lit(n_shards)))
        .groupBy("wq_id", "shard")
        .applyInPandas(union_group, "wq_id long, doc_id long")
    )
    return mask_deleted_rows(out, spark, index_dir, meta)


def bm25_topk_wildcard(
    spark: SparkSession,
    index_dir: str,
    patterns: DataFrame,
    k: int = 10,
    strategy: str = "taat",
    max_isin_terms: int = MAX_ISIN_TERMS,
    max_clauses: int = MAX_CLAUSES,
    on_too_many: str = "constant",
) -> DataFrame:
    """Top-k BM25 where each pattern scores as the disjunction of its
    matched terms (each term's own idf, once — Lucene BooleanQuery
    rewrite). Returns (query_id, doc_id, score, rank) with query_id =
    wq_id. A pattern matching more terms than ``max_isin_terms`` falls
    back to the broadcast-semi-join plan automatically. On driver-sized
    vocabularies the whole expansion is local, so the scoring job is the
    FIRST Spark job issued — same latency shape as the fuzzy path.
    Expansions wider than ``max_clauses`` follow ``on_too_many``
    ('constant' = Lucene's constant-score rewrite, 'error' =
    TooManyClauses)."""
    expanded, terms = _expand(spark, index_dir, patterns)
    return _budgeted_scored_rewrite(
        spark, index_dir, expanded, terms, patterns.count(), k, strategy,
        max_isin_terms, max_clauses, on_too_many,
    )


def term_range_docs(
    spark: SparkSession,
    index_dir: str,
    ranges: DataFrame,
    max_isin_terms: int = MAX_ISIN_TERMS,
) -> DataFrame:
    """(wq_id, doc_id): documents containing ≥1 dictionary term in the
    given term range — Lucene TermRangeQuery under its constant-score
    rewrite (the MultiTermQuery default). ``ranges`` needs (wq_id, lo,
    hi, lo_incl, hi_incl); a NULL endpoint is open (Lucene ``[* TO x]``).

    Each range is one leg over the term-sorted dictionary: the range
    predicate reaches the parquet scan (row-group min/max pruning), so a
    10⁶-term dictionary reads only the matching slice; the shared
    decode+union tail then resolves docs per (query, bucket-shard)
    group. Expansion width needs no clause budget — constant-score cost
    is proportional to matched postings, exactly why Lucene rewrites
    wide multi-term queries this way."""
    rows = ranges.select("wq_id", "lo", "hi", "lo_incl", "hi_incl").collect()
    if not rows:
        return spark.createDataFrame([], "wq_id long, doc_id long")
    idx = load_index(spark, index_dir)
    vocab = idx["term_stats"].select("term")
    legs = []
    for r in rows:
        cond = F.lit(True)
        if r["lo"] is not None:
            cond = cond & (
                F.col("term") >= r["lo"]
                if r["lo_incl"]
                else F.col("term") > r["lo"]
            )
        if r["hi"] is not None:
            cond = cond & (
                F.col("term") <= r["hi"]
                if r["hi_incl"]
                else F.col("term") < r["hi"]
            )
        legs.append(
            vocab.filter(cond).select(
                F.lit(int(r["wq_id"])).cast("long").alias("wq_id"), "term"
            )
        )
    expanded = legs[0]
    for leg in legs[1:]:
        expanded = expanded.unionByName(leg)
    return _match_docs_from_expansion(
        spark, index_dir, expanded, None, max_isin_terms
    )


def match_bool_prefix_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    max_expansions: int = 50,
) -> DataFrame:
    """ES ``match_bool_prefix`` — the search-as-you-type scoring query:
    the text tokenizes into SHOULD term clauses, except the LAST token
    which becomes a PREFIX clause expanded to the first
    ``max_expansions`` matching dictionary terms in term order (ES's
    expansion cap), each expansion scoring as its own optional clause
    (BooleanQuery rewrite — an expansion equal to an earlier exact token
    legitimately scores twice, one score per clause).

    ``queries`` needs (query_id, text). Returns the engine-standard
    (query_id, doc_id, score, rank). One scoring job: exact rows and the
    prefix expansion feed :func:`dts.score_index.score_expanded_terms`
    directly; the expansion reuses the wildcard dictionary machinery
    (driver-side bisect under the vocab cap, pruned term_stats range
    scan beyond)."""
    from dts.score_index import score_expanded_terms
    from dts.tokenizer import tokenize_text

    rows = queries.select("query_id", "text").collect()
    qrows: list[tuple[int, int, str]] = []
    pat_rows: list[tuple[int, str]] = []
    for r in rows:
        toks = tokenize_text(r["text"])
        if not toks:
            continue
        qid = int(r["query_id"])
        for clause, t in enumerate(toks[:-1]):
            qrows.append((qid, clause, t))
        pat_rows.append((qid, f"{toks[-1]}*"))
    if not pat_rows and not qrows:
        from dts.score_index import TOPK_SCHEMA

        return spark.createDataFrame([], TOPK_SCHEMA)
    pats = local_rows_df(spark, pat_rows, "wq_id long, pattern string")
    exp = (
        expand_wildcard_terms(spark, index_dir, pats)
        .withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy("wq_id").orderBy(F.col("term").asc())
            ),
        )
        .filter(F.col("_r") <= int(max_expansions))
        .select(
            F.col("wq_id").alias("query_id"),
            F.lit(10**6).alias("clause"),
            "term",
        )
    )
    exact = local_rows_df(
        spark,
        qrows, "query_id long, clause int, term string"
    ) if qrows else None
    qterms = (
        exp if exact is None
        else exact.select(
            "query_id", F.col("clause").cast("long").alias("clause"), "term"
        ).unionByName(
            exp.select("query_id", F.col("clause").cast("long"), "term")
        )
    )
    return score_expanded_terms(
        spark, index_dir, qterms, n_queries=len(rows), k=k
    )
