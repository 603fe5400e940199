"""Stage 2 — Arrow pandas-UDF mention detection.

Replaces the reference's GATE preprocessing pipeline (tokenizer + sentence
splitter + ontology gazetteer; selected by Preprocessing_UHOH.gapp,
GlobalParameters.java:53-69) and its annotation-set selects
(doc.getAnnotations("Sentiment_Object"/"OrientationTerm"/"Indicator"),
SentimentClassification.java:150,380,429,473,500).

Contract (the ONLY Python stage in the hot path — one Arrow-batched UDF,
never per-row):

    detect_mentions(text: Series[str]) -> Series[array<struct<
        begin:int, end:int, kind:string, surface:string,
        polarity:string>>]   (schema.MENTION; polarity set on
        OrientationTerm rows only, null otherwise)

Every per-turn output is derived from that one span array with JVM array
expressions: the turn summary (relations.turn_features), the phrase
evidence, the fact↔phrase edges and the SO sets of the carryover — one
annotation set per document, as in the reference.

Matching semantics (shared with the pure-Python oracle in tests/oracle.py):
  * gazetteer / indicator / feature surfaces: leftmost-longest,
    case-insensitive, word-boundary delimited, via one combined alternation
    regex ordered by surface length desc, switching to the Aho-Corasick
    automaton above AC_AUTO_THRESHOLD surfaces (measured 45x faster scan
    at 50k surfaces, equivalence pytest-asserted);
  * orientation terms: word-boundary matches that do NOT overlap a
    gazetteer/indicator/feature span (span-overlap rule, FIXTURES.md §3);
    each occurrence counts (A1 counts annotations with multiplicity,
    WorkerThread.java:130-139).

The matcher is compiled lazily once per Python worker from broadcast
surface lists — the Spark analogue of per-thread duplicated GATE
controllers (CompletePipelineWorker.java:420-423).
"""

from __future__ import annotations

import re
from typing import Iterable

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from kgx import assemble, schema
from kgx.resources import KnowledgeBase


class AhoCorasick:
    """Pure-Python Aho-Corasick automaton over lowercase patterns.

    The scale path for the surface matcher: regex alternation compiles and
    scans fine to ~10^3-10^4 surfaces, but a production gazetteer
    (10^5-10^6 entity labels) makes the alternation both slow to compile
    and O(|alternatives|) per position to scan; AC is O(text) per document
    independent of pattern count. Semantics are aligned with the regex
    engine by post-processing (word boundaries + leftmost-longest
    non-overlap) in `greedy_select` — equivalence is pytest-asserted.
    """

    def __init__(self, patterns: Iterable[str]) -> None:
        # trie as list-of-dicts; goto[state][ch] -> state
        self.goto: list[dict] = [{}]
        self.out: list[list[int]] = [[]]  # pattern LENGTHS ending at state
        self.fail: list[int] = [0]
        for p in set(patterns):
            if not p:
                continue
            s = 0
            for ch in p:
                nxt = self.goto[s].get(ch)
                if nxt is None:
                    self.goto.append({})
                    self.out.append([])
                    self.fail.append(0)
                    nxt = len(self.goto) - 1
                    self.goto[s][ch] = nxt
                s = nxt
            self.out[s].append(len(p))
        # BFS failure links; merge outputs along fails
        from collections import deque

        q = deque()
        for ch, s in self.goto[0].items():
            self.fail[s] = 0
            q.append(s)
        while q:
            r = q.popleft()
            for ch, s in self.goto[r].items():
                q.append(s)
                f = self.fail[r]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[s] = self.goto[f].get(ch, 0) if self.goto[f].get(ch, 0) != s else 0
                self.out[s] = self.out[s] + self.out[self.fail[s]]

    def occurrences(self, text_lc: str) -> list[tuple[int, int]]:
        """All (start, end) pattern occurrences in the lowercase text."""
        res: list[tuple[int, int]] = []
        s = 0
        goto, fail, out = self.goto, self.fail, self.out
        for i, ch in enumerate(text_lc):
            while s and ch not in goto[s]:
                s = fail[s]
            s = goto[s].get(ch, 0)
            if out[s]:
                for ln in out[s]:
                    res.append((i + 1 - ln, i + 1))
        return res


def _is_word(ch: str) -> bool:
    return ch.isalnum() or ch == "_"


def greedy_select(
    cands: list[tuple[int, int]], text: str
) -> list[tuple[int, int]]:
    """Replicate the regex engine's scan over literal alternatives sorted
    longest-first: leftmost match position wins, longest boundary-valid
    candidate at that position wins, next search resumes at its end."""
    n = len(text)
    cands = sorted(cands, key=lambda se: (se[0], se[0] - se[1]))
    picked: list[tuple[int, int]] = []
    pos = 0
    for b, e in cands:
        if b < pos:
            continue
        if b > 0 and _is_word(text[b - 1]):
            continue
        if e < n and _is_word(text[e]):
            continue
        picked.append((b, e))
        pos = e
    return picked


# above this many total surfaces the alternation regex is replaced by the
# Aho-Corasick automaton (engine="auto"); compile + per-position scan cost
# of the alternation grows with pattern count, AC does not
AC_AUTO_THRESHOLD = 512


class SurfaceMatcher:
    """Leftmost-longest multi-pattern matcher with two engines: a single
    alternation regex (small pattern sets) and an Aho-Corasick automaton
    (engine="aho", auto-selected above AC_AUTO_THRESHOLD surfaces) — both
    produce identical matches (pytest-equivalence-tested)."""

    def __init__(
        self,
        so_surfaces: Iterable[str],
        indicator_surfaces: Iterable[str],
        feature_surfaces: Iterable[str],
        pos_terms: Iterable[str],
        neg_terms: Iterable[str],
        engine: str = "auto",
    ) -> None:
        self.engine = engine
        self.kind_of: dict[str, str] = {}
        for s in feature_surfaces:
            self.kind_of.setdefault(s.lower(), "Feature")
        for s in indicator_surfaces:
            self.kind_of[s.lower()] = "Indicator"
        for s in so_surfaces:
            self.kind_of[s.lower()] = "SO"  # SO wins ties with feature/indicator

        def use_ac(n: int) -> bool:
            return engine == "aho" or (engine == "auto" and n > AC_AUTO_THRESHOLD)

        entity_pats = sorted(self.kind_of, key=len, reverse=True)
        self.entity_ac = (
            AhoCorasick(entity_pats) if entity_pats and use_ac(len(entity_pats)) else None
        )
        self.entity_re = (
            re.compile(
                r"(?<!\w)(" + "|".join(re.escape(p) for p in entity_pats) + r")(?!\w)",
                re.IGNORECASE,
            )
            if entity_pats and self.entity_ac is None
            else None
        )
        self.polarity_of = {t.lower(): "positive" for t in pos_terms}
        self.polarity_of.update({t.lower(): "negative" for t in neg_terms})
        terms = sorted(self.polarity_of, key=len, reverse=True)
        self.term_ac = AhoCorasick(terms) if terms and use_ac(len(terms)) else None
        self.term_re = (
            re.compile(
                r"(?<!\w)(" + "|".join(re.escape(t) for t in terms) + r")(?!\w)",
                re.IGNORECASE,
            )
            if terms and self.term_ac is None
            else None
        )

    @staticmethod
    def _lower_keep_offsets(text: str) -> str:
        lc = text.lower()
        if len(lc) == len(text):
            return lc
        # rare unicode chars lower() to a different length (e.g. 'İ');
        # lower per-char and keep the original where the length would move
        # so offsets stay valid (documented approximation for those chars)
        return "".join(c.lower() if len(c.lower()) == 1 else c for c in text)

    def _entity_spans(self, text: str) -> list[tuple[int, int]]:
        if self.entity_ac is not None:
            lc = self._lower_keep_offsets(text)
            return greedy_select(self.entity_ac.occurrences(lc), text)
        if self.entity_re is None:
            return []
        return [(m.start(1), m.end(1)) for m in self.entity_re.finditer(text)]

    def _term_spans(self, text: str) -> list[tuple[int, int]]:
        if self.term_ac is not None:
            lc = self._lower_keep_offsets(text)
            return greedy_select(self.term_ac.occurrences(lc), text)
        if self.term_re is None:
            return []
        return [(m.start(1), m.end(1)) for m in self.term_re.finditer(text)]

    def match(self, text: str) -> list[tuple]:
        """Mentions as (begin, end, kind, surface, polarity) tuples —
        tuples, not dicts: this runs per turn at 10^12 scale and Arrow
        struct conversion from tuples is ~2x cheaper."""
        out: list[tuple] = []
        spans: list[tuple[int, int]] = []
        for b, e in self._entity_spans(text):
            surface = text[b:e]
            # .get, not []: re.IGNORECASE / casefolded-AC can match Unicode
            # case variants whose str.lower() is NOT the pattern key
            # ('\u017ftark' matches 'stark'; final-sigma '\u0391\u03a3'
            # lowers to '\u03b1\u03c2') — a [] lookup would KeyError and
            # kill the whole task instead of skipping the stray match
            kind = self.kind_of.get(surface.lower())
            if kind is None:
                continue
            spans.append((b, e))
            out.append((b, e, kind, surface, None))
        for b, e in self._term_spans(text):
            if spans and any(b < se and sb < e for sb, se in spans):
                continue  # inside an entity/indicator/feature span
            surface = text[b:e]
            pol = self.polarity_of.get(surface.lower())
            if pol is None:  # Unicode case-variant match (see above)
                continue
            out.append((b, e, "OrientationTerm", surface, pol))
        out.sort(key=lambda t: (t[0], -t[1]))
        return out


def _kb_fields(kb: KnowledgeBase) -> dict:
    """The ONE extraction of matcher inputs from a KnowledgeBase — shared
    by the driver-side matcher and the broadcast payload so the two can
    never diverge on a KB shape change."""
    return {
        "so_surfaces": [s for (_u, _n, _t, s) in kb.gazetteer],
        "indicator_surfaces": [row[2] for row in kb.indicators],
        "feature_surfaces": [s for (s, _c) in kb.feature_surfaces],
        "pos_terms": [t for (t, p) in kb.lexicon if p == "positive"],
        "neg_terms": [t for (t, p) in kb.lexicon if p == "negative"],
    }


def matcher_from_kb(kb: KnowledgeBase) -> SurfaceMatcher:
    return SurfaceMatcher(**_kb_fields(kb))


# Worker-process matcher cache, keyed by the broadcast's backing file path
# (unique per broadcast variable, stable across tasks). A closure-captured
# dict does NOT survive tasks — PySpark re-pickles the closure into every
# task command, so each task would rebuild the regex/Aho-Corasick matcher
# from scratch (seconds at production gazetteer sizes, multiplied by every
# task). A module-level dict lives as long as the reused Python worker.
_MATCHER_CACHE: dict = {}


def _matcher_from_bc(kb_bc) -> SurfaceMatcher:
    key = getattr(kb_bc, "_path", None) or id(kb_bc)
    matcher = _MATCHER_CACHE.get(key)
    if matcher is None:
        if len(_MATCHER_CACHE) > 4:  # KBs change rarely; bound the cache
            _MATCHER_CACHE.clear()
        matcher = SurfaceMatcher(**kb_bc.value)
        _MATCHER_CACHE[key] = matcher
    return matcher


def detect_mentions(turns: DataFrame, kb: KnowledgeBase) -> DataFrame:
    """Append a `mentions` array column (full standoff spans, sorted by
    begin). No shuffle."""
    kb_bc = turns.sparkSession.sparkContext.broadcast(_kb_fields(kb))

    @F.pandas_udf(schema.MENTIONS_COL)
    def _detect(text: pd.Series) -> pd.Series:
        matcher = _matcher_from_bc(kb_bc)
        match = matcher.match
        return pd.Series(
            [match(t) if isinstance(t, str) else [] for t in text.to_numpy()],
            index=text.index,
        )

    return turns.withColumn("mentions", _detect(F.col("text")))


def resolved_mentions(turns_with_mentions: DataFrame) -> DataFrame:
    """The slim per-turn span frame (conv_id, turn_idx, ts_day, mentions):
    text dropped, then duplicate turns resolved by
    assemble.resolve_duplicates — the one frame every extract output is
    derived from, so facts and evidence come from the same winner text."""
    cols = ["conv_id", "turn_idx", "ts_day", "mentions"]
    if "txt_h" in turns_with_mentions.columns:
        cols.append("txt_h")
    return assemble.resolve_duplicates(turns_with_mentions.select(*cols))


def so_set_col(mentions_col: Column | None = None) -> Column:
    """Sorted distinct lowercase SO surfaces from a `mentions` array column
    (in-row; no shuffle)."""
    m = mentions_col if mentions_col is not None else F.col("mentions")
    return F.array_sort(
        F.array_distinct(
            F.transform(
                F.filter(m, lambda x: x["kind"] == F.lit("SO")),
                lambda x: F.lower(x["surface"]),
            )
        )
    )


def so_sets(turns: DataFrame, kb: KnowledgeBase) -> DataFrame:
    """Per-turn sorted distinct SO surface set (lowercase): map-only Arrow
    UDF + in-row array ops. Shared by the batch carryover and its
    streaming twin; keeps every non-key column of `turns` except the
    mention evidence."""
    m = detect_mentions(turns, kb)
    return m.select(
        *[c for c in turns.columns if c != "text"],
        so_set_col().alias("so_set"),
    )


def entity_carryover(turns: DataFrame, kb: KnowledgeBase) -> DataFrame:
    """Coref-lite entity continuity over multi-turn transcripts: each turn's
    active SO entity set is its own SO mentions if any, else the most
    recent prior turn's (within the conversation) — the carry rule for
    turns that refer back ("it", "that one") without naming the entity.
    Reference analogue: per-document annotation scope
    (CompletePipelineWorker.java:158-236), widened to conversation scope.

    Emits (conv_id, turn_idx, entity, src_turn_idx, carried) — one row per
    active entity per turn; turns before the first SO mention emit
    nothing. Shape: map-only Arrow-UDF mentions, in-row distinct SO set,
    one narrow shuffle on conv_id for the last-non-null window; rows stay
    slim (the text column never enters the shuffle)."""
    so = so_sets(turns, kb).select("conv_id", "turn_idx", "so_set")
    return carryover_from_so(so)


def carryover_from_so(so: DataFrame) -> DataFrame:
    """The carry window over a precomputed (conv_id, turn_idx, so_set)
    frame — lets callers that already ran detect_mentions (e.g. the job
    pipeline's extract stage) reuse the mention frame instead of paying a
    second Arrow pass."""
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = so.withColumn(
        "active",
        F.last(
            F.when(
                F.size("so_set") > 0,
                F.struct(
                    F.col("turn_idx").alias("src_turn_idx"),
                    F.col("so_set").alias("ents"),
                ),
            ),
            ignorenulls=True,
        ).over(w),
    ).where(F.col("active").isNotNull())
    return carried.select(
        "conv_id",
        "turn_idx",
        F.explode(F.col("active.ents")).alias("entity"),
        F.col("active.src_turn_idx").alias("src_turn_idx"),
    ).withColumn("carried", F.col("src_turn_idx") != F.col("turn_idx"))


def extract_turn_features(turns: DataFrame, kb: KnowledgeBase) -> DataFrame:
    """Per-turn summary (counts + deduped surfaces) in the slim turn_feats
    layout consumed by relations/aggregate: detect_mentions, then
    relations.turn_features, which resolves duplicate turns."""
    from kgx import relations

    return relations.turn_features(detect_mentions(turns, kb))


def mention_contexts(
    turns_with_mentions: DataFrame, window: int = 24
) -> DataFrame:
    """NER / relation-extraction training windows: one row per detected
    mention with `window` chars of left and right context around the span
    (the standard span-classification example shape — surface + local
    context — the reference's annotated GATE documents encode the same
    standoff evidence, AnnotationImpl begin/end offsets).

    Pure in-row expression work over the Arrow-detected `mentions` array:
    the explode multiplies only mention rows (bounded by matcher hits per
    turn, not text length) and the substring arithmetic never leaves the
    executor — map-only after the detection stage, so it inherits the
    turn partitioning and adds zero shuffles at any corpus size.

    Offsets are 0-based with exclusive end (schema.MENTIONS_COL);
    substring() is 1-based in both Spark and DuckDB, and both truncate
    out-of-range windows, so the oracle reproduces the clipping exactly.

    explode_outer + null-filter, not explode: Catalyst infers a
    size(mentions)>0 filter under a plain explode whose generator holds
    the Arrow UDF, which stacks a SECOND same-signature ArrowEvalPython
    node under the Generate (the detector runs twice per row). The outer
    variant skips the inferred filter; dropping the NULL rows afterward
    is the same row set with one UDF execution — plan-audited.
    """
    ex = turns_with_mentions.select(
        "conv_id", "turn_idx", "text", F.explode_outer("mentions").alias("mn")
    ).where(F.col("mn").isNotNull())
    return ex.select(
        "conv_id",
        "turn_idx",
        F.col("mn.begin").alias("begin_off"),
        F.col("mn.end").alias("end_off"),
        F.col("mn.kind").alias("kind"),
        F.col("mn.surface").alias("surface"),
        F.expr(
            f"substring(text, greatest(mn.begin - {window}, 0) + 1, "
            f"mn.begin - greatest(mn.begin - {window}, 0))"
        ).alias("left_ctx"),
        F.expr(f"substring(text, mn.end + 1, {window})").alias("right_ctx"),
    )
