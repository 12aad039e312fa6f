"""In-memory parser registry: symbol tables + inverted index + stop words.

Pure-Python re-expression of the reference registry
(reference: src/parser_registry.rs:10-315 and src/symbol_table.rs:9-76).
This object is what gets *broadcast* to every Spark executor; it is built
on the driver by the same sequential scan whether the rows come from a list
of (raw_value, resolved_value) pairs or from one Arrow collect of a gazetteer
DataFrame (see ..sources.builder_job).

Data layout (all plain picklable containers):

- ``token_ids``: dict token-string -> token id; ids are dense and assigned in
  first-appearance order over the gazetteer scanned rank-major/position-minor
  (reference: src/symbol_table.rs:17-27 — BTreeMap + monotonic counter).
- ``postings``: list indexed by token id; each entry is an ascending list of
  entity ids containing that token, deduplicated (reference:
  src/parser_registry.rs:19 ``token_to_resolved_values: Vec<BTreeSet<u32>>``).
  Ascending order falls out of monotonically increasing entity ids.
- ``entity_rank`` / ``entity_tokens``: per entity id, its popularity rank and
  the tuple of token ids of its raw value (reference:
  src/parser_registry.rs:21 ``resolved_value_to_tokens: Vec<(Rank, Vec<u32>)>``).
- ``resolved``: per entity id, the resolved (canonical) string. The same
  canonical string gets a **fresh id per alias** (reference:
  src/symbol_table.rs:49-57 ResolvedSymbolTable allows duplicates;
  src/parser_registry.rs:43-45 "We force add the new resolved value").
- ``stop_words`` / ``edge_cases`` / ``injected``: sets of token ids /
  entity ids (reference: src/parser_registry.rs:27-31).
"""

from __future__ import annotations

from .tokenizer import tokens_only


class Registry:
    __slots__ = (
        "token_ids",
        "postings",
        "entity_rank",
        "entity_tokens",
        "resolved",
        "n_stop_words",
        "additional_stop_words",
        "stop_words",
        "edge_cases",
        "injected",
        "_id2tok",
    )

    def __init__(self) -> None:
        self.token_ids: dict[str, int] = {}
        self.postings: list[list[int]] = []
        self.entity_rank: list[int] = []
        self.entity_tokens: list[tuple[int, ...]] = []
        self.resolved: list[str] = []
        self.n_stop_words: int = 0
        self.additional_stop_words: list[int] = []
        self.stop_words: frozenset[int] = frozenset()
        self.edge_cases: frozenset[int] = frozenset()
        self.injected: set[int] = set()
        self._id2tok: dict[int, str] | None = None  # lazy inverse, len-guarded

    # the inverse token map is a lazy cache: pickles (broadcast, deepcopy)
    # leave it out, so a registry pickles to the same bytes before and
    # after the parser holding it has run
    def __getstate__(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__ if k != "_id2tok"}

    def __setstate__(self, state: dict) -> None:
        for k, v in state.items():
            setattr(self, k, v)
        self._id2tok = None

    def _id_to_token(self) -> dict[int, str]:
        """Inverse token map, cached; tokens are append-only so a length
        check is a sound invalidation test."""
        cache = self._id2tok
        if cache is None or len(cache) != len(self.token_ids):
            cache = {tid: tok for tok, tid in self.token_ids.items()}
            self._id2tok = cache
        return cache

    # ------------------------------------------------------------------ build

    def _intern_token(self, token: str) -> int:
        """reference: src/symbol_table.rs:17-27 (add_symbol)."""
        tid = self.token_ids.get(token)
        if tid is None:
            tid = len(self.token_ids)
            self.token_ids[token] = tid
        return tid

    def add_value(self, tokens: list[str], resolved_value: str, rank: int) -> int | None:
        """Register one (tokenized raw value, resolved value) at ``rank``.

        Returns the new entity id, or None for empty values
        (reference: src/parser_registry.rs:38-65). Duplicate resolved strings
        always get a fresh entity id (multi-alias support).
        """
        if not tokens:
            return None
        ev = len(self.resolved)
        self.resolved.append(resolved_value)
        self.entity_rank.append(rank)
        tok_ids = []
        for token in tokens:
            tid = self._intern_token(token)
            if tid >= len(self.postings):
                self.postings.append([ev])
            else:
                plist = self.postings[tid]
                # entity ids only grow, so appending keeps the list sorted;
                # dedup repeated tokens within one value (BTreeSet semantics)
                if not plist or plist[-1] != ev:
                    plist.append(ev)
            tok_ids.append(tid)
        self.entity_tokens.append(tuple(tok_ids))
        return ev

    def add_raw_value(self, raw_value: str, resolved_value: str, rank: int) -> int | None:
        return self.add_value(tokens_only(raw_value), resolved_value, rank)

    def prepend_values(self, values: list[tuple[list[str], str]]) -> list[int]:
        """Prepend tokenized values; rebase existing ranks by +n and recompute
        stop words (reference: src/parser_registry.rs:69-84)."""
        n = len(values)
        self.entity_rank = [r + n for r in self.entity_rank]
        out = []
        for rank, (tokens, resolved_value) in enumerate(values):
            ev = self.add_value(tokens, resolved_value, rank)
            if ev is not None:
                out.append(ev)
        self.set_top_stop_words(self.n_stop_words)
        return out

    # ------------------------------------------------------------- stop words

    def _intern_word(self, word: str) -> int:
        """Intern a word that may be absent from the gazetteer — such tokens
        get an empty postings list so every tid indexes postings safely."""
        tid = self._intern_token(word)
        if tid >= len(self.postings):
            self.postings.append([])
        return tid

    def _recompute_edge_cases(self) -> None:
        """Edge cases = entities all of whose tokens are stop words — a
        deterministic function of the current stop-word set
        (reference: src/parser_registry.rs:159-166)."""
        sw = self.stop_words
        self.edge_cases = frozenset(
            ev
            for ev, toks in enumerate(self.entity_tokens)
            if all(t in sw for t in toks)
        )

    def set_stop_words(
        self, n_stop_words: int, additional_stop_words: list[str] | None = None
    ) -> None:
        """Intern additional stop words then recompute the top-n set
        (reference: src/parser_registry.rs:118-139)."""
        self.additional_stop_words = [
            self._intern_word(w) for w in additional_stop_words or []
        ]
        self.set_top_stop_words(n_stop_words)

    def set_top_stop_words(self, n_stop_words: int) -> None:
        """Stop words = top-n tokens by number of distinct entities containing
        them, ties broken by lower token id (Rust stable sort on -count,
        reference: src/parser_registry.rs:141-157), union the additional
        words."""
        self.n_stop_words = n_stop_words
        order = sorted(range(len(self.postings)), key=lambda tid: -len(self.postings[tid]))
        top = order[:n_stop_words]
        self.stop_words = frozenset(top) | frozenset(self.additional_stop_words)
        self._recompute_edge_cases()

    def restore_stop_words(
        self,
        n_stop_words: int,
        stop_words: list[str],
        additional_stop_words: list[str],
    ) -> None:
        """Restore a PERSISTED stop-word set verbatim instead of recomputing
        the top-n: after prepend/injection the interning order (and therefore
        the doc-frequency tie-break) of a rebuilt registry can differ from
        the live parser's, so a load that recomputes may flip a tie and
        resolve differently than the parser that was dumped. The persisted
        set is the behavior contract; edge cases are re-derived from it."""
        self.n_stop_words = n_stop_words
        self.additional_stop_words = [
            self._intern_word(w) for w in additional_stop_words
        ]
        self.stop_words = frozenset(self._intern_word(w) for w in stop_words)
        self._recompute_edge_cases()

    # -------------------------------------------------------------- injection

    def inject_new_values(
        self,
        new_values: list[tuple[list[str], str]],
        prepend: bool,
        from_vanilla: bool,
    ) -> "Registry":
        """Entity injection: reconstruct the gazetteer (optionally dropping
        previously injected rows), splice the new values in with rank
        rebasing, and rebuild the registry from scratch, recomputing stop
        words with the stored n + additional words
        (reference: src/parser_registry.rs:199-254)."""
        base = self.get_entity_values(include_injected=not from_vanilla)
        cleaned = [(toks, res) for toks, res in new_values if toks]
        rows: list[tuple[list[str], str, bool]] = []
        if prepend:
            rows.extend((toks, res, True) for toks, res in cleaned)
            rows.extend((toks, res, inj) for toks, res, inj, _rank in base)
        else:
            rows.extend((toks, res, inj) for toks, res, inj, _rank in base)
            rows.extend((toks, res, True) for toks, res in cleaned)

        new = Registry()
        if not from_vanilla:
            # provenance of previous injections survives non-vanilla injects,
            # but ids are reassigned by the rebuild below; carried via rows'
            # is_injected flags instead of the old id set
            pass
        for rank, (toks, res, is_injected) in enumerate(rows):
            ev = new.add_value(toks, res, rank)
            if ev is not None and is_injected:
                new.injected.add(ev)
        additional = [self.token_string(t) for t in self.additional_stop_words]
        new.set_stop_words(self.n_stop_words, additional)
        return new

    def get_entity_values(
        self, include_injected: bool
    ) -> list[tuple[list[str], str, bool, int]]:
        """Invert the registry back to (tokens, resolved, is_injected, rank)
        rows sorted by rank (reference: src/parser_registry.rs:259-290)."""
        id_to_token = self._id_to_token()
        out = []
        for ev, res in enumerate(self.resolved):
            is_injected = ev in self.injected
            if not include_injected and is_injected:
                continue
            toks = [id_to_token[t] for t in self.entity_tokens[ev]]
            out.append((toks, res, is_injected, self.entity_rank[ev]))
        out.sort(key=lambda row: row[3])
        return out

    # ---------------------------------------------------------------- lookups

    def get_token_idx(self, token: str) -> int | None:
        return self.token_ids.get(token)

    def get_resolved_values(self, token_idx: int) -> list[int]:
        return self.postings[token_idx]

    def get_tokens(self, entity_id: int) -> tuple[int, tuple[int, ...]]:
        return self.entity_rank[entity_id], self.entity_tokens[entity_id]

    def is_stop_word(self, token_idx: int) -> bool:
        return token_idx in self.stop_words

    def is_edge_case(self, entity_id: int) -> bool:
        return entity_id in self.edge_cases

    def token_string(self, token_idx: int) -> str:
        # cached inverse map: a linear scan here made injection
        # O(|additional stop words| * |vocabulary|)
        return self._id_to_token()[token_idx]

    def get_resolved_value(self, entity_id: int) -> tuple[str, str]:
        """(resolved, raw_value) where raw_value is the interned tokens
        re-joined with single spaces — whitespace-normalizing
        (reference: src/parser_registry.rs:175-192)."""
        id_to_token = self._id_to_token()
        raw = " ".join(id_to_token[t] for t in self.entity_tokens[entity_id])
        return self.resolved[entity_id], raw

    # ------------------------------------------------------ config snapshots

    def get_stop_words(self) -> set[str]:
        id_to_token = self._id_to_token()
        return {id_to_token[t] for t in self.stop_words}

    def get_additional_stop_words(self) -> set[str]:
        id_to_token = self._id_to_token()
        return {id_to_token[t] for t in self.additional_stop_words}

    def get_edge_cases(self) -> set[str]:
        return {self.resolved[ev] for ev in self.edge_cases}

    # ------------------------------------------------------------- utilities

    def raw_values_joined(self) -> list[str]:
        """Per entity id, the space-joined raw value (used by pipelines)."""
        id_to_token = self._id_to_token()
        return [
            " ".join(id_to_token[t] for t in toks) for toks in self.entity_tokens
        ]

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, Registry):
            return NotImplemented
        return (
            self.token_ids == other.token_ids
            and self.postings == other.postings
            and self.entity_rank == other.entity_rank
            and self.entity_tokens == other.entity_tokens
            and self.resolved == other.resolved
            and self.n_stop_words == other.n_stop_words
            and self.additional_stop_words == other.additional_stop_words
            and self.stop_words == other.stop_words
            and self.edge_cases == other.edge_cases
            and self.injected == other.injected
        )
