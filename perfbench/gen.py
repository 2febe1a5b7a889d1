"""Seeded synthetic ontologies, transcripts and gold mentions for the benchmark.

Pure Python with no Spark and no kgpipe import, so the gold does not depend
on the code it checks.  The same seed gives the same bytes.

Ontologies (one OBO text each, ~10^4 terms in all):

- ``CL``    detected with CL index 31 (Porter, EXACT_ONLY): RELATED synonyms
  are in the file but must not be detected;
- ``GO_MF`` detected with PubMed stopwords: some names carry a stopword
  between their tokens ("bako of dilu" matches with the stopword skipped);
- ``PR``    detected case-sensitively, order-independently, without stemming:
  gene-like tokens ("Bako2"), planted permuted and (as a negative) lowercased.

Every ontology has multi-token names, synonym groups shared by 2-3 terms
(the ambiguous spans that disambiguation and canonicalization resolve),
obsolete terms with ``replaced_by``, and an ``is_a`` tree deeper than 8.

Dictionary words are consonant-vowel words over ``bdfgkm`` / ``aoi`` ending
in ``a`` or ``o``: they are Porter fixed points and ``word + "s"`` stems back
to ``word``.  Filler words start with a consonant from ``lnprstvz``, so no
filler token equals a dictionary token under any case folding or stemming.
Planted mentions are always separated by filler, so a longest match never
runs from one planted mention into the next.
"""

from __future__ import annotations

import datetime as dt
import itertools
import random
from dataclasses import dataclass, field

DICT_CONS = "bdfgkm"
DICT_VOWELS = "aoi"
DICT_FINAL = "ao"
FILLER_FIRST = "lnprstvz"
FILLER_CONS = "bdfgklmnprstvz"
GO_STOPWORDS = ("of", "in", "to", "by")  # PubMed stopwords used inside names
ROLES = ("user", "assistant", "tool")
TOOLS = ("search", "code", "db")
BASE_TS = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)

# per-ontology term counts and id shapes: (name, id prefix, id digits, terms)
ONTOLOGIES = (("CL", "CL", 7, 4000), ("GO_MF", "GO", 7, 3000),
              ("PR", "PR", 9, 3000))

# corpus shapes; the ontology set is the same for every workload.
# long_turns: many tokens and few mentions per turn (detect-heavy).
# resume: short, densely planted turns from one ontology with many shared
# synonyms, so disambiguation, canonicalization, triples and the write carry
# the job; conversations stay short, so that half of the buckets holds
# about half of the turns whatever the seed.
WORKLOADS = {
    "long_turns": dict(n_turns=1000, conv_zipf_max=60, mega=(),
                       words=(100, 180),
                       filler_vocab=20000, plants=(0, 0, 0, 1, 1, 2),
                       negative_p=0.15, plant_from=("CL", "GO_MF", "PR"),
                       shared_p=0.1),
    "resume": dict(n_turns=2400, conv_zipf_max=40, mega=(),
                   words=(3, 12), filler_vocab=300, plants=(1, 2, 2, 3),
                   negative_p=0.05, plant_from=("CL",), shared_p=0.5),
}


@dataclass
class Plant:
    """One surface form that may be planted into a turn.  ``concept`` is the
    expected canonical concept id, or None for a negative (a surface that
    must not be detected)."""

    surface: str
    ontology: str
    concept: str | None


@dataclass
class Ontology:
    name: str
    obo: str
    positives: list[Plant] = field(default_factory=list)
    shared: list[Plant] = field(default_factory=list)
    negatives: list[Plant] = field(default_factory=list)
    n_terms: int = 0
    max_depth: int = 0


@dataclass
class Corpus:
    ontologies: dict[str, Ontology]
    turns: list[dict]
    gold: list[tuple[str, int, int, int, str]]  # conv, turn, begin, end, canon
    n_tokens: int
    n_negatives: int


def _dict_words(rng: random.Random) -> list[str]:
    syl = [c + v for c, v in itertools.product(DICT_CONS, DICT_VOWELS)]
    fin = [c + v for c, v in itertools.product(DICT_CONS, DICT_FINAL)]
    words = ["".join(p) + f for p in itertools.product(syl, syl) for f in fin]
    words += ["".join(p) + f for p in itertools.product(syl, syl, syl)
              for f in fin]
    rng.shuffle(words)
    return words


def _filler_words(rng: random.Random, n: int) -> list[str]:
    syl = [c + v for c, v in itertools.product(FILLER_CONS, DICT_VOWELS)]
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        w = rng.choice(FILLER_FIRST) + rng.choice(DICT_VOWELS) + "".join(
            rng.choice(syl) for _ in range(rng.randint(2, 3)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


class _Words:
    """Draws fresh dictionary words; no word is handed out twice."""

    def __init__(self, rng: random.Random):
        self._it = iter(_dict_words(rng))

    def take(self, n: int) -> list[str]:
        return [next(self._it) for _ in range(n)]


def _min_rep(groups: list[list[str]]) -> dict[str, str]:
    """Union-find over the shared-synonym groups; representative = min id."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for g in groups:
        for a in g[1:]:
            ra, rb = find(g[0]), find(a)
            if ra != rb:
                lo, hi = sorted((ra, rb))
                parent[hi] = lo
    return {n: find(n) for n in parent}


def make_ontology(name: str, prefix: str, digits: int, n_terms: int,
                  rng: random.Random, words: _Words) -> Ontology:
    pr = name == "PR"
    go = name == "GO_MF"

    def tok(w: str) -> str:
        # PR tokens look like gene symbols: capitalised, digit suffix
        return w.capitalize() + str(rng.randint(1, 9)) if pr else w

    ids = [f"{prefix}:{i:0{digits}d}" for i in range(n_terms)]
    names: list[list[str]] = []
    for _ in range(n_terms):
        n_tok = rng.choice((1, 1, 2, 2, 3))
        toks = [tok(w) for w in words.take(n_tok)]
        if go and n_tok > 1 and rng.random() < 0.3:
            toks.insert(1, rng.choice(GO_STOPWORDS))
        names.append(toks)
    obsolete = set(rng.sample(range(1, n_terms), n_terms // 30))
    live = [i for i in range(n_terms) if i not in obsolete]

    own_syn: dict[int, list[tuple[str, str]]] = {i: [] for i in range(n_terms)}
    for i in live:
        for _ in range(rng.choice((0, 0, 1, 2))):
            scope = rng.choice(("EXACT", "RELATED"))
            own_syn[i].append(
                (" ".join(tok(w) for w in words.take(rng.randint(1, 2))), scope))

    groups: list[list[str]] = []
    shared_syn: dict[int, list[str]] = {i: [] for i in range(n_terms)}
    shared: list[Plant] = []
    for _ in range(len(live) // 12):
        members = sorted(rng.sample(live, rng.choice((2, 2, 3))))
        surface = " ".join(tok(w) for w in words.take(rng.randint(1, 2)))
        for m in members:
            shared_syn[m].append(surface)
        groups.append([ids[m] for m in members])
        shared.append(Plant(surface, name, ids[members[0]]))
    rep = _min_rep(groups)
    for p in shared:
        p.concept = rep.get(p.concept, p.concept)

    def canon(i: int) -> str:
        return rep.get(ids[i], ids[i])

    positives: list[Plant] = []
    negatives: list[Plant] = []
    lines = ["format-version: 1.2", f"ontology: {name.lower()}", ""]
    depth = [0] * n_terms
    for i in range(n_terms):
        label = " ".join(names[i])
        lines += ["[Term]", f"id: {ids[i]}", f"name: {label}",
                  f"namespace: {name.lower()}"]
        for s, scope in own_syn[i]:
            lines.append(f'synonym: "{s}" {scope} []')
        for s in shared_syn[i]:
            lines.append(f'synonym: "{s}" EXACT []')
        if i:
            parent = (i - 1) // 2  # binary is_a tree: depth ~log2(n)
            depth[i] = depth[parent] + 1
            lines.append(f"is_a: {ids[parent]} ! parent")
        if i in obsolete:
            lines += ["is_obsolete: true",
                      f"replaced_by: {ids[rng.choice(live)]}"]
            negatives.append(Plant(label, name, None))
        else:
            c = canon(i)
            positives.append(Plant(label, name, c))
            if pr:
                if len(names[i]) > 1:
                    positives.append(
                        Plant(" ".join(reversed(names[i])), name, c))
                negatives.append(Plant(label.lower(), name, None))
            else:
                positives.append(Plant(label[0].upper() + label[1:], name, c))
                positives.append(Plant(label + "s", name, c))
            for s, scope in own_syn[i]:
                if name == "CL" and scope != "EXACT":
                    negatives.append(Plant(s, name, None))
                else:
                    positives.append(Plant(s, name, c))
        lines.append("")
    return Ontology(name, "\n".join(lines), positives, shared, negatives,
                    n_terms, max(depth))


def make_ontologies(seed: int) -> dict[str, Ontology]:
    rng = random.Random(f"ontology:{seed}")
    words = _Words(rng)
    return {name: make_ontology(name, prefix, digits, n, rng, words)
            for name, prefix, digits, n in ONTOLOGIES}


def _zipf_len(rng: random.Random, max_turns: int) -> int:
    r = rng.random()
    return max(1, min(int(1.0 / max(r, 1.0 / max_turns) ** 0.7), max_turns))


def make_corpus(workload: str, seed: int) -> Corpus:
    """Transcripts and gold for *workload* at *seed*."""
    p = WORKLOADS[workload]
    onts = make_ontologies(seed)
    rng = random.Random(f"{workload}:{seed}")
    vocab = _filler_words(rng, p["filler_vocab"])
    cum = list(itertools.accumulate(1.0 / (r + 1) ** 1.1
                                    for r in range(len(vocab))))
    pos = [pl for o in p["plant_from"] for pl in onts[o].positives]
    shared = [pl for o in p["plant_from"] for pl in onts[o].shared]
    neg = [pl for o in p["plant_from"] for pl in onts[o].negatives]

    conv_lens = list(p["mega"])
    total = sum(conv_lens)
    while total < p["n_turns"]:
        n = min(_zipf_len(rng, p["conv_zipf_max"]), p["n_turns"] - total)
        conv_lens.append(n)
        total += n
    rng.shuffle(conv_lens)

    turns: list[dict] = []
    gold: list[tuple[str, int, int, int, str]] = []
    n_tokens = n_neg = 0
    lo, hi = p["words"]
    for ci, n_conv_turns in enumerate(conv_lens):
        conv_id = f"conv{ci:06d}"
        for ti in range(n_conv_turns):
            n_fill = rng.randint(lo, hi)
            filler = rng.choices(vocab, cum_weights=cum, k=n_fill)
            for k in range(5, n_fill - 1, rng.randint(8, 14)):
                filler[k] += "."  # sentence break: matches never cross it
                filler[k + 1] = filler[k + 1].capitalize()
            units: list[tuple[str, str | None]] = []
            for _ in range(rng.choice(p["plants"])):
                pl = rng.choice(shared if rng.random() < p["shared_p"]
                                else pos)
                units.append((pl.surface, pl.concept))
            if rng.random() < p["negative_p"]:
                units.append((rng.choice(neg).surface, None))
                n_neg += 1
            # each plant goes into its own gap between two filler words
            slots = sorted(rng.sample(range(n_fill + 1), len(units)))
            items: list[tuple[str, str | None]] = []
            for k, w in enumerate(filler):
                while slots and slots[0] == k:
                    slots.pop(0)
                    items.append(units.pop())
                items.append((w, None))
            while units:
                items.append(units.pop())
            offset = 0
            for text, concept in items:
                if concept is not None:
                    gold.append((conv_id, ti, offset, offset + len(text),
                                 concept))
                offset += len(text) + 1
            n_tokens += sum(len(t.split()) for t, _ in items)
            role = ROLES[ti % 3]
            turns.append({
                "conv_id": conv_id, "turn_idx": ti, "role": role,
                "text": " ".join(t for t, _ in items),
                "tool": rng.choice(TOOLS) if role == "tool" else None,
                "ts": BASE_TS + dt.timedelta(hours=ci % 48, seconds=30 * ti),
            })
    return Corpus(onts, turns, gold, n_tokens, n_neg)


def sample_turns(turns: list[dict], n: int, seed: int) -> list[dict]:
    """A fixed, seeded sample of *n* turns (the single-core trie baseline)."""
    idx = sorted(random.Random(f"sample:{seed}").sample(
        range(len(turns)), min(n, len(turns))))
    return [turns[i] for i in idx]

