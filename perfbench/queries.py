"""Seeded query streams. The seed picks the terms; the shape sequence is a
fixed cycle, so every run sends the same mix of shapes."""

from __future__ import annotations

import random

from lucene_solr_spark.analysis.tokenizer import tokenize
from lucene_solr_spark.sources.synth import synth_term

VOCAB = 5000  # synth_transcripts' default vocabulary size
WAND_MODES = ("disjunctive", "conjunctive", "dismax", "msm")
# phrase second: even a run on a slow host that completes only two
# queries sends one through search/phrase.py. Every shape runs the flat
# term executor, the phrase one beside search/phrase.py, so all shapes
# cost about the same and a run's mean latency does not hinge on how many
# of the cycle's queries fit in its window (a bare phrase costs a fifth
# of the others).
FRONTDOOR_SHAPES = ("term", "phrase", "must", "must_not", "role", "mm")


def _zipf_terms(rng: random.Random, n: int) -> list:
    """n distinct terms, each drawn Zipf(s=1) over the whole vocabulary
    the way synth_transcripts draws tokens."""
    out: list = []
    while len(out) < n:
        t = synth_term(min(VOCAB, max(1, int(VOCAB ** rng.random()))))
        if t not in out:
            out.append(t)
    return out


def wand_queries(seed: int):
    """Endless search_wand queries: {mode, terms, msm}, 1-6 terms."""
    rng = random.Random(seed)
    i = 0
    while True:
        mode = WAND_MODES[i % len(WAND_MODES)]
        i += 1
        if mode == "msm":
            terms = _zipf_terms(rng, rng.randint(2, 6))
            yield {"mode": "disjunctive", "terms": terms, "msm": 2, "shape": "msm"}
        else:
            terms = _zipf_terms(rng, rng.randint(1, 6))
            yield {"mode": mode, "terms": terms, "msm": None, "shape": mode}


def wand_canonical() -> list:
    """One fixed query per shape, for plan fingerprints."""
    head = [synth_term(r) for r in (1, 2, 3)]
    return [
        {"mode": "disjunctive", "terms": head, "msm": None, "shape": "disjunctive"},
        {"mode": "conjunctive", "terms": head, "msm": None, "shape": "conjunctive"},
        {"mode": "dismax", "terms": head, "msm": None, "shape": "dismax"},
        {"mode": "disjunctive", "terms": head, "msm": 2, "shape": "msm"},
    ]


def _frontdoor_query(shape: str, terms: list) -> dict:
    a, b, c, d = terms
    spec = {
        "term": {"q": a, "terms": [a]},
        "must": {"q": f"+{a} +{b}", "terms": [a, b]},
        "must_not": {"q": f"{a} {b} -{c}", "terms": [a, b], "exclude": [c]},
        "role": {"q": f"role:user {a} {b}", "terms": [a, b]},
        "phrase": {"q": f'"{a} {b}" {c}', "terms": [a, b], "optional": [c]},
        "mm": {"q": f"{a} {b} {c} {d}", "terms": [a, b, c, d], "mm": "2", "msm": 2},
    }[shape]
    return {"shape": shape, "mm": None, **spec}


def _phrase_pair(rng: random.Random, texts: list) -> list:
    """Two adjacent, distinct tokens of a randomly chosen text."""
    while True:
        toks = tokenize(texts[rng.randrange(len(texts))] or "")
        if len(toks) < 2:
            continue
        i = rng.randrange(len(toks) - 1)
        if toks[i] != toks[i + 1]:
            return [toks[i], toks[i + 1]]


def frontdoor_queries(seed: int, texts: list):
    """Endless Searcher.search queries cycling through FRONTDOOR_SHAPES.
    Each is {shape, q, mm, terms[, exclude, msm, optional]}; phrases are
    adjacent token pairs of the corpus, so they match, followed by one
    optional term that is not in the phrase."""
    rng = random.Random(seed)
    i = 0
    while True:
        shape = FRONTDOOR_SHAPES[i % len(FRONTDOOR_SHAPES)]
        i += 1
        terms = _zipf_terms(rng, 4)
        if shape == "phrase":
            pair = _phrase_pair(rng, texts)
            terms = (pair + [t for t in terms if t not in pair])[:4]
        yield _frontdoor_query(shape, terms)


def frontdoor_canonical() -> list:
    terms = [synth_term(r) for r in (1, 2, 3, 4)]
    return [_frontdoor_query(shape, terms) for shape in FRONTDOOR_SHAPES]
