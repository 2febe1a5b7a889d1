"""Token-level dictionary trie and mention scanner.

The core operator of the pipeline: the reference's ConceptMapper dictionary
lookup (aggregate built at ``ConceptMapperPipelineFactory.java:94-96``) as a
pure-Python token trie that is built once on the driver from the dictionary
DataFrame, pickled into a Spark broadcast variable, and scanned over Arrow
batches of turn text inside ``mapInPandas`` (no per-row Python round trips —
one Python call per batch; see kgpipe.detect).  ``scan_turn`` is the one
per-turn scan: detect, the fused scan and the grid sweep all call it.

Search semantics reproduce the SearchStrategy knob
(``ConceptMapperEvalOutputCompiler.java:83-85``):

- CONTIGUOUS_MATCH: longest contiguous token-sequence match, non-overlapping
  (scanner restarts after the match end);
- SKIP_ANY_MATCH: tokens of a variant may be separated by up to ``max_gap``
  non-matching tokens; first (longest) match wins, non-overlapping;
- SKIP_ANY_MATCH_ALLOW_OVERLAP: as above but the scanner advances one token
  at a time, so overlapping mentions are all emitted.

OrderIndependentLookup:ON (used by the PR=478 / NCBI_TAXON=535 optimized
settings) is a sorted-token-key index: multi-token variants additionally
indexed under the sorted token sequence.  Such a trie also keeps the set of
its tokens, and the sorted-window lookup is skipped at a start token that
is not in it (every window from that start contains the token, so none can
match).

Per-token normalization goes through the per-process memo of
``kgpipe.normalize.token_memo``: each distinct raw token is stopword-checked,
case-folded and stemmed once per process and knob setting, not once per
occurrence per trie.  The memo holds at most ``normalize.TOKEN_MEMO_MAX``
entries per knob setting and is cleared when it reaches that bound.
"""

from __future__ import annotations

from typing import Iterable, Optional

from .normalize import (
    MatchConfig,
    SEARCH_CONTIGUOUS,
    SEARCH_SKIP_ANY,
    SEARCH_SKIP_ANY_OVERLAP,
    chunk_spans,
    token_memo,
    tokenize_with_offsets,
)

# trie node: dict token -> child node; terminal payload under _END
_END = 0  # int key cannot collide with str token keys


def pretokenize(text: str) -> list[tuple[int, int, list[tuple[str, int, int]]]]:
    """Config-independent chunking + raw tokenization of *text*:
    ``[(chunk_begin, chunk_end, [(token, begin, end)])]`` with token
    offsets chunk-relative.  ``scan_turn`` computes it once per turn and
    passes it to every trie's ``scan_text``."""
    return [
        (cb, ce, tokenize_with_offsets(text[cb:ce]))
        for cb, ce in chunk_spans(text)
    ]


def scan_turn(
    text, tries: Iterable[DictionaryTrie], pretok=None,
) -> list[tuple[str, str, int, int, str]]:
    """The per-turn scan every plan runs: mentions
    ``[(ontology, concept_id, begin, end, covered_text)]`` of one turn's
    *text* over *tries*, run in iteration order.

    - NULL or NaN *text* (a missing turn) gives ``[]``.
    - The turn is tokenised once for all tries (``pretokenize``), unless
      the caller passes ``pretok``.
    - Identical ``(concept_id, begin, end)`` hits are dropped, the first in
      scan order wins: the DuplicateAnnotationRemovalFilter_AE analogue
      (``EntityFinder.java:104``).  Identical annotations can only arise
      within one turn's scan, so turn-local dedup keeps detect narrow
      instead of paying a corpus-wide ``dropDuplicates`` shuffle, given
      unique (conv_id, turn_idx) input rows.

    Nothing is caught here: each caller quarantines errors at its own
    grain (detect per turn, the fused scan per conversation)."""
    if text is None or (isinstance(text, float) and text != text):
        return []
    if pretok is None:
        pretok = pretokenize(text)
    out: list[tuple[str, str, int, int, str]] = []
    seen: set = set()
    for trie in tries:
        for hit in trie.scan_text(text, pretok):
            key = hit[1:4]
            if key not in seen:
                seen.add(key)
                out.append(hit)
    return out


class DictionaryTrie:
    """Token trie over normalized variant token sequences.

    Payload per terminal: list of ``(ontology, concept_id)`` pairs (a variant
    string may be shared by several concepts — that ambiguity feeds the
    disambiguation stage and union-find canonicalization).
    """

    __slots__ = ("root", "config", "max_len", "vocab")

    def __init__(self, config: MatchConfig):
        self.root: dict = {}
        self.config = config
        self.max_len = 0
        # every token of every inserted key; filled only for
        # OrderIndependentLookup, whose sorted-window scan it prunes
        self.vocab: set[str] = set()

    def add(self, variant_norm: str, ontology: str, concept_id: str) -> None:
        toks = variant_norm.split()
        if not toks:
            return
        self._insert(toks, ontology, concept_id)
        if self.config.order_independent and len(toks) > 1:
            s = sorted(toks)
            if s != toks:
                self._insert(s, ontology, concept_id)

    def _insert(self, toks: list[str], ontology: str, concept_id: str) -> None:
        if self.config.order_independent:
            self.vocab.update(toks)
        node = self.root
        for t in toks:
            node = node.setdefault(t, {})
        node.setdefault(_END, []).append((ontology, concept_id))
        if len(toks) > self.max_len:
            self.max_len = len(toks)

    @classmethod
    def from_rows(cls, rows: Iterable[dict], config: MatchConfig) -> "DictionaryTrie":
        trie = cls(config)
        for r in rows:
            trie.add(r["variant_norm"], r["ontology"], r["concept_id"])
        return trie

    # ------------------------------------------------------------------
    # scanning
    # ------------------------------------------------------------------

    def scan_text(
        self, text: str, pretok=None,
    ) -> list[tuple[str, str, int, int, str]]:
        """Scan *text* and return mentions
        ``[(ontology, concept_id, begin, end, covered_text)]`` with char
        offsets into *text*.  Chunked per sentence-ish boundary first
        (matches never cross chunks, mirroring the per-sentence ConceptMapper
        invocation, ``EntityFinder.java:97,118``).

        ``pretok`` — optional precomputed ``pretokenize(text)`` result:
        chunking and raw tokenization are config-INdependent, so a
        multi-ontology scan (the production shape: CHEBI+GO+PR+CL+TAXON
        tries over the same turn) tokenizes each turn once instead of once
        per trie; per-config stopword filtering and normalization still
        happen here.

        Stopword filtering and normalization are read from the
        per-process ``token_memo(config)`` (raw token -> normal form, None
        for a stopword), fetched once per call; a token is normalized only
        on its first occurrence in the process, or after the memo reached
        its fixed bound (``normalize.TOKEN_MEMO_MAX`` entries) and was
        cleared."""
        out: list[tuple[str, str, int, int, str]] = []
        cfg = self.config
        memo = token_memo(cfg)
        if pretok is None:
            pretok = pretokenize(text)
        for cb, ce, raw in pretok:
            toks: list[str] = []
            begins: list[int] = []
            ends: list[int] = []
            for tok, b, e in raw:
                norm = memo[tok]
                if norm is None:
                    continue
                toks.append(norm)
                begins.append(cb + b)
                ends.append(cb + e)
            if not toks:
                continue
            if cfg.search_strategy == SEARCH_CONTIGUOUS:
                self._scan_contiguous(text, toks, begins, ends, out)
            elif cfg.search_strategy == SEARCH_SKIP_ANY:
                self._scan_skip(text, toks, begins, ends, out, overlap=False)
            elif cfg.search_strategy == SEARCH_SKIP_ANY_OVERLAP:
                self._scan_skip(text, toks, begins, ends, out, overlap=True)
            else:
                raise ValueError(cfg.search_strategy)
        return out

    def _lookup_sorted_window(self, toks, i, length):
        """OrderIndependentLookup: the window's tokens sorted, walked through
        the trie (variants are indexed under their sorted sequence too, so a
        permuted surface form meets its variant on the sorted key)."""
        node = self.root
        for t in sorted(toks[i:i + length]):
            node = node.get(t)
            if node is None:
                return None
        return node.get(_END)

    def _scan_contiguous(self, text, toks, begins, ends, out) -> None:
        n = len(toks)
        find_all = self.config.find_all_matches
        order_ind = self.config.order_independent
        vocab = self.vocab
        emitted: set = set()  # find_all: in-order + sorted-window can
        # surface the same (concept, span) twice; emit once

        def emit_once(ont, cid, b, e):
            key = (ont, cid, b, e)
            if key not in emitted:
                emitted.add(key)
                out.append((ont, cid, b, e, text[b:e]))

        i = 0
        while i < n:
            node = self.root
            best_j = -1
            best_payload = None
            j = i
            while j < n:
                node = node.get(toks[j])
                if node is None:
                    break
                payload = node.get(_END)
                if payload is not None:
                    best_j = j
                    best_payload = payload
                    if find_all:
                        for ont, cid in payload:
                            emit_once(ont, cid, begins[i], ends[j])
                j += 1
            if order_ind and toks[i] in vocab:
                # permuted multi-token windows, longest wins over in-order;
                # a window holding a token outside the trie cannot match,
                # nor can any longer window from the same start
                for length in range(2, min(self.max_len, n - i) + 1):
                    if toks[i + length - 1] not in vocab:
                        break
                    payload = self._lookup_sorted_window(toks, i, length)
                    if payload is None:
                        continue
                    j = i + length - 1
                    if find_all:
                        for ont, cid in payload:
                            emit_once(ont, cid, begins[i], ends[j])
                    # at a tie the sorted key's payload wins: it holds every
                    # concept of the in-order one, plus the permuted variants
                    if j >= best_j:
                        best_j = j
                        best_payload = payload
            if best_j >= 0:
                if not find_all:
                    for ont, cid in best_payload:
                        out.append(
                            (ont, cid, begins[i], ends[best_j],
                             text[begins[i]:ends[best_j]])
                        )
                    i = best_j + 1
                    continue
            i += 1

    def _scan_skip(self, text, toks, begins, ends, out, overlap: bool,
                   max_gap: int = 1) -> None:
        """Gap-tolerant scan: a variant's tokens must appear in order within
        the chunk with at most *max_gap* skipped tokens between consecutive
        variant tokens."""
        n = len(toks)
        i = 0
        while i < n:
            # best (deepest) match starting at i
            best: Optional[tuple[int, list]] = None
            stack = [(self.root, i - 1, 0)]  # (node, last_tok_idx, depth)
            # depth-limited DFS; trie depth bounded by max_len
            while stack:
                node, last, depth = stack.pop()
                payload = node.get(_END)
                if payload is not None and depth > 0:
                    if best is None or last > best[0]:
                        best = (last, payload)
                if depth == 0:
                    # a match must start exactly at token i
                    child = node.get(toks[i])
                    if child is not None:
                        stack.append((child, i, 1))
                else:
                    nxt_start = last + 1
                    limit = min(n, nxt_start + max_gap + 1)
                    for k in range(nxt_start, limit):
                        child = node.get(toks[k])
                        if child is not None:
                            stack.append((child, k, depth + 1))
            if best is not None:
                last, payload = best
                for ont, cid in payload:
                    out.append(
                        (ont, cid, begins[i], ends[last], text[begins[i]:ends[last]])
                    )
                i = i + 1 if overlap else last + 1
            else:
                i += 1
