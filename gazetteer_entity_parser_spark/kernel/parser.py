"""The gazetteer matching kernel: single-document entity resolution.

Pure-Python re-expression of the reference's query path
(reference: src/parser.rs:219-623). This is deliberately Spark-free: at scale
it runs data-parallel across documents inside one Arrow-batched
``mapInPandas`` stage (see ..operators.extract), sequential per document —
exactly the reference's execution model lifted from 1 string to 10^12 rows.

Faithfulness quirks preserved (see SURVEY.md §7 M0):
- f32 threshold comparisons (reference: src/utils.rs:6-8);
- character-offset ranges (reference: src/parser.rs:550-555);
- first-position seeding + decrement-by-one stop-word backtracking
  (reference: src/parser.rs:388-391, 419-456);
- additional-stop-words with empty postings ``continue`` without recording a
  skip (reference: src/parser.rs:233-236);
- growth requires a strictly later position in the entry's token list
  (reference: src/parser.rs:364-377);
- reduction recomputes n_consumed as the surviving span width
  (reference: src/parser.rs:495);
- alternatives cutoff at the first larger raw_value_length
  (reference: src/parser.rs:612-618);
- one live match per entity id (reference: src/parser.rs:228).
"""

from __future__ import annotations

import heapq
from dataclasses import dataclass

from .fmath import check_threshold, f32
from .registry import Registry
from .tokenizer import tokenize


class PossibleMatch:
    """In-flight match state, one live instance per entity id
    (reference: src/parser.rs:51-64)."""

    __slots__ = (
        "entity",
        "char_start",
        "char_end",
        "tok_start",
        "tok_end",
        "raw_value_length",
        "n_consumed_tokens",
        "last_token_in_input",
        "first_token_in_resolution",
        "last_token_in_resolution",
        "rank",
        "alternatives",
    )

    def __init__(
        self,
        entity: int,
        char_start: int,
        char_end: int,
        tok_start: int,
        tok_end: int,
        raw_value_length: int,
        n_consumed_tokens: int,
        last_token_in_input: int,
        first_token_in_resolution: int,
        last_token_in_resolution: int,
        rank: int,
        alternatives: list[tuple[int, int]] | None = None,
    ) -> None:
        self.entity = entity
        self.char_start = char_start
        self.char_end = char_end
        self.tok_start = tok_start
        self.tok_end = tok_end
        self.raw_value_length = raw_value_length
        self.n_consumed_tokens = n_consumed_tokens
        self.last_token_in_input = last_token_in_input
        self.first_token_in_resolution = first_token_in_resolution
        self.last_token_in_resolution = last_token_in_resolution
        self.rank = rank
        self.alternatives = alternatives if alternatives is not None else []

    def check(self, threshold_f32: float) -> bool:
        """reference: src/parser.rs:66-74 — skips counted against the
        gazetteer entry's token count, not the input's."""
        return check_threshold(
            self.n_consumed_tokens,
            self.raw_value_length - self.n_consumed_tokens,
            threshold_f32,
        )

    def sort_key(self) -> tuple[int, int, int]:
        """Min-heap key for the max-first pop order of the reference
        (reference: src/parser.rs:76-91): more consumed tokens win, then
        shorter entries, then lower (more popular) rank."""
        return (-self.n_consumed_tokens, self.raw_value_length, self.rank)

    def copy(self) -> "PossibleMatch":
        return PossibleMatch(
            self.entity,
            self.char_start,
            self.char_end,
            self.tok_start,
            self.tok_end,
            self.raw_value_length,
            self.n_consumed_tokens,
            self.last_token_in_input,
            self.first_token_in_resolution,
            self.last_token_in_resolution,
            self.rank,
            list(self.alternatives),
        )


@dataclass(frozen=True)
class ResolvedValue:
    """reference: src/data.rs:146-150."""

    resolved: str
    raw_value: str


@dataclass(frozen=True)
class ParsedValue:
    """One output mention (reference: src/data.rs:137-144). ``start``/``end``
    are character (code point) offsets. ``entity`` and ``rank`` are engine
    extensions consumed by the KG pipeline (not part of the reference API)."""

    resolved_value: ResolvedValue
    range: tuple[int, int]
    matched_value: str
    alternatives: tuple[ResolvedValue, ...] = ()
    entity: int = -1
    rank: int = -1
    # engine extension: [first, last) token ordinals of the match within the
    # input — lets downstream stages window/pair without re-tokenizing
    tok_range: tuple[int, int] = (-1, -1)


class Parser:
    """Engine handle: a built registry + f32 threshold
    (reference: src/parser.rs:24-33)."""

    def __init__(self, registry: Registry, threshold: float = 1.0) -> None:
        self.registry = registry
        self.threshold = f32(threshold)
        self.license_info = None
        self._invalidate_run_caches()

    # run-path caches are derived state: a pickle (broadcast, deepcopy)
    # carries only the registry, threshold and license, and the copy rebuilds
    # its caches on first run(); kept in, they would triple the pickle of a
    # parser that has run.
    _RUN_CACHES = (
        "_single_token_table",
        "_single_token_checked",
        "_le2_tables",
        "_le2_checked",
        "_rv_memo",
    )

    def __getstate__(self) -> dict:
        return {k: v for k, v in self.__dict__.items() if k not in self._RUN_CACHES}

    def __setstate__(self, state: dict) -> None:
        self.__dict__.update(state)
        self._invalidate_run_caches()

    def _resolved_value(self, entity_id: int) -> ResolvedValue:
        """Memoized entity materialization (strings per id never change;
        injection returns a NEW Parser so the memo cannot go stale)."""
        rv = self._rv_memo.get(entity_id)
        if rv is None:
            rv = ResolvedValue(*self.registry.get_resolved_value(entity_id))
            self._rv_memo[entity_id] = rv
        return rv

    def _invalidate_run_caches(self) -> None:
        """Drop lazily-built run-path caches after any in-place mutation of
        the registry or threshold. The single-token dictionary fast path is
        derived from postings + stop words + threshold on first run(); stale
        copies would silently ignore later prepends (prepended values never
        match, rebased ranks never win ties)."""
        self._single_token_table = None
        self._single_token_checked = False
        self._le2_tables = None
        self._le2_checked = False
        self._rv_memo: dict[int, ResolvedValue] = {}

    def set_threshold(self, threshold: float) -> None:
        """reference: src/parser.rs:119-121 (stored as f32)."""
        self.threshold = f32(threshold)
        self._invalidate_run_caches()

    def inject_new_values(
        self,
        new_values: list[tuple[str, str]],
        prepend: bool,
        from_vanilla: bool,
    ) -> "Parser":
        """Entity injection: (raw_value, resolved_value) pairs, prepend or
        append with rank rebasing; ``from_vanilla`` drops previously injected
        values first (reference: src/parser.rs:156-168). Returns a new Parser
        (the registry is rebuilt from scratch, reference:
        src/parser_registry.rs:199-254)."""
        from .tokenizer import tokens_only

        tokenized = [(tokens_only(raw), resolved) for raw, resolved in new_values]
        new_registry = self.registry.inject_new_values(tokenized, prepend, from_vanilla)
        out = Parser(new_registry, self.threshold)
        out.license_info = self.license_info
        return out

    def prepend_values(self, new_values: list[tuple[str, str]]) -> list[int]:
        """reference: src/parser.rs:108-116. Mutates the registry in place,
        so all run-path caches are invalidated before returning."""
        from .tokenizer import tokens_only

        out = self.registry.prepend_values(
            [(tokens_only(raw), resolved) for raw, resolved in new_values]
        )
        self._invalidate_run_caches()
        return out

    # ------------------------------------------------------------------- run

    def run(
        self,
        input_text: str,
        max_alternatives: int = 0,
        tokens: list[tuple[int, int, str]] | None = None,
    ) -> list[ParsedValue]:
        """reference: src/parser.rs:146-149. ``tokens`` may carry precomputed
        ``tokenize(input_text)`` output (callers like the extraction operator
        already hold it); when omitted it is computed once and shared by the
        scan, the reduction re-walk, and the overlap loop."""
        if tokens is None:
            tokens = tokenize(input_text)
        table = self._single_token_lookup()
        if table is not None:
            return self._run_single_token(input_text, max_alternatives, table, tokens)
        tables = self._le2_lookup()
        if tables is not None:
            return self._run_le2(input_text, max_alternatives, tables, tokens)
        heap = self._find_possible_matches(tokens, self.threshold, max_alternatives)
        return self._parse_input(input_text, tokens, heap)

    def run_light(
        self, input_text: str, tokens: list[tuple[int, int, str]] | None = None
    ) -> list[tuple[str, int]]:
        """Projection of :meth:`run` for aggregation-only consumers (the
        fused triples stage): the (resolved, rank) sequence in token order,
        without materializing ParsedValue/ResolvedValue objects or slicing
        matched_value strings. Output equals
        ``[(pv.resolved_value.resolved, pv.rank) for pv in run(text, 0)]``
        (pinned in tests/test_fast_path.py)."""
        if tokens is None:
            tokens = tokenize(input_text)
        st_table = self._single_token_lookup()
        if st_table is not None:
            get = st_table.get
            out = []
            for _s, _e, token in tokens:
                postings = get(token)
                if postings is not None:
                    best = postings[0]
                    out.append((best[2].resolved, best[1]))
            return out
        tables = self._le2_lookup()
        if tables is not None:
            singles, bigrams = tables
            n = len(tokens)
            pairs = []
            bget = bigrams.get
            prev_tt_cand = -2
            for i in range(n - 1):
                key = (tokens[i][2], tokens[i + 1][2])
                entries = bget(key)
                if entries is None:
                    continue
                if key[0] == key[1]:
                    if prev_tt_cand == i - 1:
                        continue
                    prev_tt_cand = i
                pairs.append((entries[0][0], i, entries[0]))
            taken = bytearray(n)
            out_pos: list[tuple[int, str, int]] = []
            if pairs:
                pairs.sort(key=lambda c: (c[0], c[1]))
                for rank0, i, best in pairs:
                    if taken[i] or taken[i + 1]:
                        continue
                    taken[i] = taken[i + 1] = 1
                    out_pos.append((i, best[2].resolved, rank0))
            sget = singles.get
            for i in range(n):
                if taken[i]:
                    continue
                entries = sget(tokens[i][2])
                if entries is not None:
                    best = entries[0]
                    out_pos.append((i, best[2].resolved, best[0]))
            out_pos.sort()
            return [(res, rank) for _i, res, rank in out_pos]
        return [
            (pv.resolved_value.resolved, pv.rank) for pv in self.run(input_text, 0, tokens)
        ]

    def run_light_pos(
        self, input_text: str, tokens: list[tuple[int, int, str]] | None = None
    ) -> list[tuple[int, str, int]]:
        """(start_token_ordinal, resolved, rank) triples in token order —
        :meth:`run_light` plus each match's starting token index (r6: the
        pruned-column extraction fast lane, which needs tok_idx but neither
        char offsets nor matched_value). Output equals
        ``[(pv.tok_range[0], pv.resolved_value.resolved, pv.rank) for pv in
        run(text, 0)]`` (pinned in tests/test_fast_path.py). The body
        mirrors run_light rather than wrapping it: run_light is the fused
        triples hot path and must not pay a per-match re-projection."""
        if tokens is None:
            tokens = tokenize(input_text)
        st_table = self._single_token_lookup()
        if st_table is not None:
            get = st_table.get
            out = []
            for i, (_s, _e, token) in enumerate(tokens):
                postings = get(token)
                if postings is not None:
                    best = postings[0]
                    out.append((i, best[2].resolved, best[1]))
            return out
        tables = self._le2_lookup()
        if tables is not None:
            singles, bigrams = tables
            n = len(tokens)
            pairs = []
            bget = bigrams.get
            prev_tt_cand = -2
            for i in range(n - 1):
                key = (tokens[i][2], tokens[i + 1][2])
                entries = bget(key)
                if entries is None:
                    continue
                if key[0] == key[1]:
                    if prev_tt_cand == i - 1:
                        continue
                    prev_tt_cand = i
                pairs.append((entries[0][0], i, entries[0]))
            taken = bytearray(n)
            out_pos: list[tuple[int, str, int]] = []
            if pairs:
                pairs.sort(key=lambda c: (c[0], c[1]))
                for rank0, i, best in pairs:
                    if taken[i] or taken[i + 1]:
                        continue
                    taken[i] = taken[i + 1] = 1
                    out_pos.append((i, best[2].resolved, rank0))
            sget = singles.get
            for i in range(n):
                if taken[i]:
                    continue
                entries = sget(tokens[i][2])
                if entries is not None:
                    best = entries[0]
                    out_pos.append((i, best[2].resolved, best[0]))
            out_pos.sort()
            return out_pos
        return [
            (pv.tok_range[0], pv.resolved_value.resolved, pv.rank)
            for pv in self.run(input_text, 0, tokens)
        ]

    # -------------------------------------------- pure-dictionary fast path

    def _single_token_lookup(self):
        """Specialized physical plan: when every gazetteer entry is a single
        token and there are no stop words, the general machinery provably
        reduces to a dictionary probe — every match has n_consumed=1,
        raw_value_length=1 (ratio 1.0 passes any θ≤1), spans never overlap,
        groups are per-token-occurrence, best match = min rank, and
        alternatives are the remaining postings in rank order with no
        raw_value_length cutoff. Equivalence is pinned against the general
        path in tests/test_fast_path.py."""
        if not self._single_token_checked:
            self._single_token_checked = True
            reg = self.registry
            if (
                not reg.stop_words
                and self.threshold <= 1.0
                and all(len(t) == 1 for t in reg.entity_tokens)
            ):
                # per token: postings fully materialized in rank order; a
                # single-token entity's raw_value IS its token string
                table: dict[str, list] = {}
                for token, tid in reg.token_ids.items():
                    postings = sorted(reg.postings[tid], key=lambda ev: reg.entity_rank[ev])
                    if postings:
                        table[token] = [
                            (ev, reg.entity_rank[ev], ResolvedValue(reg.resolved[ev], token))
                            for ev in postings
                        ]
                self._single_token_table = table
        return self._single_token_table

    def _run_single_token(
        self, input_text: str, max_alternatives: int, table, tokens
    ) -> list[ParsedValue]:
        out = []
        get = table.get
        for tok_idx, (start, end, token) in enumerate(tokens):
            postings = get(token)
            if postings is None:
                continue
            ev, rank, rv = postings[0]
            alts = (
                tuple(p[2] for p in postings[1 : max_alternatives + 1])
                if max_alternatives and len(postings) > 1
                else ()
            )
            out.append(
                ParsedValue(
                    resolved_value=rv,
                    range=(start, end),
                    matched_value=token,
                    alternatives=alts,
                    entity=ev,
                    rank=rank,
                    tok_range=(tok_idx, tok_idx + 1),
                )
            )
        return out

    # ----------------------------------------- 1-2-token-entry fast path

    def _le2_lookup(self):
        """Specialized physical plan for gazetteers whose entries are all 1
        or 2 tokens with θ > 0.5 (the KG pipeline's alias-gazetteer flavor).
        Under those preconditions the general machinery provably reduces to
        dictionary probes + a tiny greedy:

        - a 1-of-2 partial is 1/2 = 0.5 < θ, so it never passes the flush
          check and the pos-1 insert is early-pruned — ONLY full adjacent
          bigram occurrences and full singles survive;
        - stop words are a NO-OP for candidates: a stop token's single entity
          is by definition an edge case (all its tokens are stop words) and
          matches at θ=1.0 trivially (full), while stop-bearing bigrams still
          require physical adjacency (the skipped-stop-word backtrack in
          _insert_new only absorbs the immediately preceding token, and
          growth requires token_idx == last+1);
        - (t, t) entities alternate within equal-token runs: the single live
          match per entity flushes at the run's 1st, 3rd, ... pair and the
          restart consumes the intervening token (one-live-match rule);
        - greedy overlap: every bigram (consumed 2) pops before every single
          (consumed 1); among bigrams rank asc with same-rank (= same-entity)
          ties in scan order; a reduced overlapper is 1/2 < θ and dies, so
          singles survive exactly where no chosen bigram covers them;
        - groups are span-homogeneous (a 1-token span only groups 1-token
          entities, a 2-token span only entities with that exact ordered
          token pair), so the alternatives cutoff at the first larger
          raw_value_length never triggers and alternatives are simply the
          remaining same-key entities in rank order.

        Unique ranks are part of the gate: with duplicate ranks the general
        path breaks ties by flush order, which this plan does not model.
        Equivalence is pinned against the general path in
        tests/test_fast_path.py (randomized + hypothesis property tests).
        """
        if not self._le2_checked:
            self._le2_checked = True
            reg = self.registry
            ranks = reg.entity_rank
            if (
                reg.entity_tokens
                and 0.5 < self.threshold <= 1.0
                and all(len(t) <= 2 for t in reg.entity_tokens)
                and len(set(ranks)) == len(ranks)
            ):
                id_to_token = reg._id_to_token()
                singles: dict[str, list] = {}
                bigrams: dict[tuple[str, str], list] = {}
                for ev, tok_ids in enumerate(reg.entity_tokens):
                    strs = tuple(id_to_token[t] for t in tok_ids)
                    entry = (ranks[ev], ev, ResolvedValue(reg.resolved[ev], " ".join(strs)))
                    if len(strs) == 1:
                        singles.setdefault(strs[0], []).append(entry)
                    else:
                        bigrams.setdefault(strs, []).append(entry)
                for lst in singles.values():
                    lst.sort(key=lambda e: e[0])
                for lst in bigrams.values():
                    lst.sort(key=lambda e: e[0])
                self._le2_tables = (singles, bigrams)
        return self._le2_tables

    def _run_le2(
        self, input_text: str, max_alternatives: int, tables, tokens
    ) -> list[ParsedValue]:
        singles, bigrams = tables
        n = len(tokens)
        out: list[ParsedValue] = []

        # enumerate bigram candidates in scan order; (t, t) keys alternate
        # within equal-token runs (see _le2_lookup). A single tracker is
        # enough: consecutive candidates at i-1 and i force key[0] == key[1].
        cands = []
        bget = bigrams.get
        prev_tt_cand = -2
        for i in range(n - 1):
            key = (tokens[i][2], tokens[i + 1][2])
            entries = bget(key)
            if entries is None:
                continue
            if key[0] == key[1]:
                if prev_tt_cand == i - 1:
                    continue
                prev_tt_cand = i
            cands.append((entries[0][0], i, entries))

        taken = bytearray(n)
        if cands:
            cands.sort(key=lambda c: (c[0], c[1]))
            for rank0, i, entries in cands:
                if taken[i] or taken[i + 1]:
                    continue
                taken[i] = taken[i + 1] = 1
                _r, ev0, rv0 = entries[0]
                alts = (
                    tuple(e[2] for e in entries[1 : max_alternatives + 1])
                    if max_alternatives and len(entries) > 1
                    else ()
                )
                start = tokens[i][0]
                end = tokens[i + 1][1]
                out.append(
                    ParsedValue(
                        resolved_value=rv0,
                        range=(start, end),
                        matched_value=input_text[start:end],
                        alternatives=alts,
                        entity=ev0,
                        rank=rank0,
                        tok_range=(i, i + 2),
                    )
                )

        sget = singles.get
        for i, (start, end, token) in enumerate(tokens):
            if taken[i]:
                continue
            entries = sget(token)
            if entries is None:
                continue
            rank0, ev0, rv0 = entries[0]
            alts = (
                tuple(e[2] for e in entries[1 : max_alternatives + 1])
                if max_alternatives and len(entries) > 1
                else ()
            )
            out.append(
                ParsedValue(
                    resolved_value=rv0,
                    range=(start, end),
                    matched_value=token,
                    alternatives=alts,
                    entity=ev0,
                    rank=rank0,
                    tok_range=(i, i + 1),
                )
            )
        out.sort(key=lambda p: p.range)
        return out

    # ---------------------------------------------------------- candidate scan

    def _find_possible_matches(
        self, tokens: list[tuple[int, int, str]], threshold: float, max_alternatives: int
    ) -> list:
        """Single left-to-right pass growing one live match per entity
        (reference: src/parser.rs:222-309). Returns a heapq list of
        (key, seq, PossibleMatch)."""
        reg = self.registry
        token_ids = reg.token_ids
        postings = reg.postings
        stop_words = reg.stop_words
        edge_cases = reg.edge_cases
        partial: dict[int, PossibleMatch] = {}
        finals: list[PossibleMatch] = []
        skipped: dict[int, tuple[int, int, int]] = {}  # tok_idx -> (start, end, token_id)

        for token_idx, (start, end, token) in enumerate(tokens):
            value = token_ids.get(token)
            if value is None:
                continue
            res_vals = postings[value]
            if not res_vals:
                # additional stop word absent from the gazetteer: skip without
                # recording a skipped token (reference: src/parser.rs:233-236)
                continue
            if value not in stop_words:
                for res_val in res_vals:
                    self._update_or_insert(
                        value, res_val, token_idx, start, end,
                        partial, finals, skipped, threshold,
                    )
            else:
                skipped[token_idx] = (start, end, value)
                # edge cases containing this stop word: grow/start at θ=1.0
                # (reference: src/parser.rs:252-269)
                if edge_cases:
                    for res_val in edge_cases.intersection(res_vals):
                        self._update_or_insert(
                            value, res_val, token_idx, start, end,
                            partial, finals, skipped, 1.0,
                        )
                # grow (never initiate) existing non-edge-case matches that
                # contain the stop word (reference: src/parser.rs:271-287)
                res_set = set(res_vals)
                for res_val, pm in partial.items():
                    if res_val not in res_set or res_val in edge_cases:
                        continue
                    self._update_previous(pm, token_idx, value, start, end, threshold, finals)

        # flush surviving partials through the threshold filter; no copy
        # needed — the partial map is discarded here
        # (reference: src/parser.rs:292-305)
        for pm in partial.values():
            if pm.check(1.0 if pm.entity in edge_cases else threshold):
                finals.append(pm)

        return _group_matches(finals, max_alternatives)

    # -------------------------------------------------------- upsert dispatch

    def _update_or_insert(
        self, value, res_val, token_idx, start, end, partial, finals, skipped, threshold
    ) -> None:
        """reference: src/parser.rs:311-347."""
        pm = partial.get(res_val)
        if pm is not None:
            self._update_previous(pm, token_idx, value, start, end, threshold, finals)
        else:
            new_pm = self._insert_new(res_val, value, start, end, token_idx, threshold, skipped)
            if new_pm is not None:
                partial[res_val] = new_pm

    # ------------------------------------------------------------ match growth

    def _update_previous(self, pm, token_idx, value, start, end, threshold, finals) -> None:
        """Grow iff input-adjacent AND the token occurs in the entry after the
        last consumed entry position; otherwise flush (if ≥θ) and restart at
        this token's first entry position (reference: src/parser.rs:349-405)."""
        otokens = self.registry.entity_tokens[pm.entity]

        if token_idx == pm.last_token_in_input + 1:
            try:
                otoken_idx = otokens.index(value, pm.last_token_in_resolution + 1)
            except ValueError:
                otoken_idx = -1
            if otoken_idx >= 0:
                pm.char_end = end
                pm.n_consumed_tokens += 1
                pm.last_token_in_input = token_idx
                pm.last_token_in_resolution = otoken_idx
                pm.tok_end += 1
                return

        if pm.check(threshold):
            finals.append(pm.copy())

        # restart in place with the same entity (reference: src/parser.rs:388-404)
        pos = otokens.index(value)  # panics in the reference if absent; same here
        pm.char_start = start
        pm.char_end = end
        pm.tok_start = token_idx
        pm.tok_end = token_idx + 1
        pm.raw_value_length = len(otokens)
        pm.last_token_in_input = token_idx
        pm.first_token_in_resolution = pos
        pm.last_token_in_resolution = pos
        pm.n_consumed_tokens = 1
        pm.rank = self.registry.entity_rank[pm.entity]
        pm.alternatives = []

    # ---------------------------------------------------- match start/backtrack

    def _insert_new(
        self, res_val, value, start, end, token_idx, threshold, skipped
    ) -> PossibleMatch | None:
        """Seed a 1-token match at the token's first entry position, absorb
        contiguous previously-skipped stop words backwards (decrementing the
        first-resolution cursor by one per absorbed word), then early-prune
        with an optimistic threshold check (reference: src/parser.rs:409-470)."""
        reg = self.registry
        rank = reg.entity_rank[res_val]
        otokens = reg.entity_tokens[res_val]
        pos = otokens.index(value)
        pm = PossibleMatch(
            entity=res_val,
            char_start=start,
            char_end=end,
            tok_start=token_idx,
            tok_end=token_idx + 1,
            raw_value_length=len(otokens),
            n_consumed_tokens=1,
            last_token_in_input=token_idx,
            first_token_in_resolution=pos,
            last_token_in_resolution=pos,
            rank=rank,
        )
        n_skips = pos
        for btok_idx in range(token_idx - 1, -1, -1):
            hit = skipped.get(btok_idx)
            if hit is None:
                break
            skip_start, _skip_end, skip_tok = hit
            try:
                idx = otokens.index(skip_tok)
            except ValueError:
                break
            if idx < pm.first_token_in_resolution:
                pm.char_start = skip_start
                pm.tok_start = btok_idx
                pm.n_consumed_tokens += 1
                pm.first_token_in_resolution -= 1
                n_skips -= 1
            else:
                break

        if check_threshold(pm.raw_value_length - n_skips, n_skips, threshold):
            return pm
        return None

    # -------------------------------------------------- greedy overlap resolve

    def _parse_input(
        self, input_text: str, toks: list[tuple[int, int, str]], heap: list
    ) -> list[ParsedValue]:
        """Pop best-first; overlapping candidates are reduced and re-pushed if
        still above threshold; emitted spans claim their token positions
        (reference: src/parser.rs:506-572)."""
        reg = self.registry
        n_total_tokens = len(toks)
        taken: set[int] = set()
        out: list[ParsedValue] = []
        seq = len(heap)  # fresh sequence numbers for re-pushed entries

        while heap and len(taken) < n_total_tokens:
            _key, _seq, pm = heapq.heappop(heap)

            # C-speed: spans are window-bounded (short), so intersecting the
            # range beats scanning the taken set per pop
            overlapping = taken.intersection(range(pm.tok_start, pm.tok_end))
            if overlapping:
                reduced = _reduce_possible_match(toks, pm, overlapping)
                if reduced is not None:
                    thr = 1.0 if reg.is_edge_case(reduced.entity) else self.threshold
                    if reduced.check(thr):
                        seq += 1
                        heapq.heappush(heap, (reduced.sort_key(), seq, reduced))
                continue

            alts = tuple(
                self._resolved_value(alt_ev) for alt_ev, _alt_rank in pm.alternatives
            )
            out.append(
                ParsedValue(
                    resolved_value=self._resolved_value(pm.entity),
                    range=(pm.char_start, pm.char_end),
                    matched_value=input_text[pm.char_start : pm.char_end],
                    alternatives=alts,
                    entity=pm.entity,
                    rank=reg.entity_rank[pm.entity],
                    tok_range=(pm.tok_start, pm.tok_end),
                )
            )
            taken.update(range(pm.tok_start, pm.tok_end))

        out.sort(key=lambda p: p.range)
        return out


# ------------------------------------------------------------------ grouping


def _group_matches(finals: list[PossibleMatch], max_alternatives: int) -> list:
    """Group finals by exact char range; per group keep the best match and
    attach up to ``max_alternatives`` alternatives in quality order, stopping
    at the first alternative with a larger raw_value_length
    (reference: src/parser.rs:585-623). Returns a ready heapq list."""
    groups: dict[tuple[int, int], list[PossibleMatch]] = {}
    for pm in finals:
        groups.setdefault((pm.char_start, pm.char_end), []).append(pm)

    heap: list = []
    seq = 0
    for group in groups.values():
        group.sort(key=PossibleMatch.sort_key)
        best = group[0].copy()
        for m in group[1:]:
            if len(best.alternatives) >= max_alternatives:
                break
            if m.raw_value_length > best.raw_value_length:
                break
            best.alternatives.append((m.entity, m.rank))
        heap.append((best.sort_key(), seq, best))
        seq += 1
    heapq.heapify(heap)
    return heap


def _reduce_possible_match(
    toks: list[tuple[int, int, str]], pm: PossibleMatch, overlapping: set[int]
) -> PossibleMatch | None:
    """Drop overlapping token positions; the surviving span's width becomes
    the new n_consumed_tokens — interior never-matched tokens count as
    consumed after reduction, a reference quirk we reproduce
    (reference: src/parser.rs:472-504, :495)."""
    surviving = [
        (i, toks[i])
        for i in range(pm.tok_start, min(pm.tok_end, len(toks)))
        if i not in overlapping
    ]
    if not surviving:
        return None
    first_idx, (first_start, _fe, _ft) = surviving[0]
    last_idx, (_ls, last_end, _lt) = surviving[-1]
    return PossibleMatch(
        entity=pm.entity,
        char_start=first_start,
        char_end=last_end,
        tok_start=first_idx,
        tok_end=last_idx + 1,
        raw_value_length=pm.raw_value_length,
        n_consumed_tokens=last_idx - first_idx + 1,
        last_token_in_input=0,
        first_token_in_resolution=0,
        last_token_in_resolution=0,
        rank=pm.rank,
        alternatives=list(pm.alternatives),
    )
