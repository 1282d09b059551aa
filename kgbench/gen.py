"""Seeded input generators for the benchmark workloads.

The benchmark owns these generators, so an edit to the library's own
``datagen.py`` or ``synthetic.py`` cannot change what the benchmark
measures.  Every generator builds one fixed structure from a constant base
seed; the workload seed then only renames terms and shuffles row order.
Every seed therefore does the same work, and the canonical output of a
seed is predictable from its input alone.

Every generator returns plain Python rows; ``input_digest`` fingerprints
them so a run records exactly which input it measured.
"""

from __future__ import annotations

import hashlib
import random

BASE_SEED = 20261017

# ---------------------------------------------------------------------------
# kg_transcripts: multi-turn conversations with exact extraction truth
# ---------------------------------------------------------------------------

PEOPLE = ["Alice", "Bob", "Carol", "Dave", "Erin", "Frank", "Grace",
          "Heidi", "Ivan", "Judy", "Mallory", "Niaj", "Olivia", "Peggy",
          "Rupert", "Sybil", "Trent", "Victor", "Walter", "Yolanda"]
ORGS = ["Acme", "Globex", "Initech", "Umbrella", "Hooli", "Stark",
        "Wayne", "Wonka"]
CITIES = ["Paris", "London", "Tokyo", "Berlin", "Madrid", "Oslo",
          "Lima", "Cairo"]
# relation phrase -> object kind; the phrases are the extractor's grammar
RELATIONS = {"works at": "org", "lives in": "city", "knows": "person",
             "visited": "city", "founded": "org"}
FILLER = ["Thanks for the update.", "Let me check that for you.",
          "Could you elaborate on the previous point?",
          "Here is the summary you requested."]
# sentences the extraction grammar must reject
DISTRACTORS = ["alice works at acme.", "Bob maybe-knows Carol.",
               "Paris is large.", "Dave works at."]
TURNS_PER_CONV = 8

TRANSCRIPT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def gazetteer() -> list[tuple[str, str]]:
    """(surface, iri) rows for the linkable entities."""
    return ([(o, f"<ent:org/{o.lower()}>") for o in ORGS]
            + [(c, f"<ent:city/{c.lower()}>") for c in CITIES])


_IRI = dict(gazetteer())


def _term(surface: str) -> str:
    """Gazetteer IRI, else the conversation-scoped bnode the extractor
    mints for an unlinked surface."""
    return _IRI.get(surface, f"_:p_{surface.lower()}")


def _renaming(rng: random.Random, names: list[str]) -> dict[str, str]:
    shuffled = list(names)
    rng.shuffle(shuffled)
    return dict(zip(names, shuffled))


def transcripts(seed: int, n_convs: int):
    """Returns (rows, truth).

    rows:  (conv_id, turn_idx, role, text, tool, ts_seconds) in shuffled
           order; ``ts_seconds`` is an offset the stager turns into a
           timestamp.
    truth: {conv_id: set of (subj, pred, obj)} — the exact triples the
           extractor must produce per conversation graph.
    """
    base = random.Random(BASE_SEED)
    convs = []
    for _ in range(n_convs):
        cast = base.sample(PEOPLE, k=base.randint(2, 5))
        turns = []
        for t in range(TURNS_PER_CONV):
            role = ("user", "assistant", "tool")[t % 3]
            tool = base.choice(["search", "calculator", "browser"]) \
                if role == "tool" else ""
            sents = [("f", base.choice(FILLER))]
            if base.random() < 0.25:
                sents.append(("f", base.choice(DISTRACTORS)))
            for _ in range(base.randint(0, 2)):
                rel = base.choice(sorted(RELATIONS))
                subj = base.choice(cast)
                kind = RELATIONS[rel]
                if kind == "person":
                    obj = base.choice([p for p in cast if p != subj])
                else:
                    obj = base.choice(ORGS if kind == "org" else CITIES)
                sents.append(("r", subj, rel, obj))
            base.shuffle(sents)
            turns.append((role, tool, sents))
        convs.append(turns)

    # the workload seed: rename people/orgs/cities within their classes,
    # draw fresh conversation ids, shuffle rows — same work, new names
    rng = random.Random(seed)
    name = {**_renaming(rng, PEOPLE), **_renaming(rng, ORGS),
            **_renaming(rng, CITIES)}
    ids = rng.sample(range(16 ** 8), n_convs)
    rows, truth = [], {}
    for c, turns in enumerate(convs):
        conv_id = f"conv-{ids[c]:08x}"
        facts = truth.setdefault(conv_id, set())
        for t, (role, tool, sents) in enumerate(turns):
            text = []
            for s in sents:
                if s[0] == "f":
                    text.append(s[1])
                    continue
                _, subj, rel, obj = s
                subj, obj = name[subj], name[obj]
                text.append(f"{subj} {rel} {obj}.")
                facts.add((_term(subj), f"<rel:{rel.replace(' ', '_')}>",
                           _term(obj)))
            rows.append((conv_id, t, role, " ".join(text), tool,
                         60 * c + 30 * t))
    rng.shuffle(rows)
    return rows, {g: f for g, f in truth.items() if f}


# ---------------------------------------------------------------------------
# deep_resumable: directed blank-node chains
# ---------------------------------------------------------------------------

def chains(seed: int, n_chains: int, length: int):
    """``n_chains`` directed chains of ``length`` bnode->bnode edges, one
    graph each.  Colour refinement needs about length/2 rounds to
    discriminate a chain, so ``length`` sets the fixpoint's round count.
    The seed draws every bnode name and shuffles rows; graph ids are kept,
    so the canonical output is the same for every seed."""
    rng = random.Random(seed)
    names = rng.sample(range(16 ** 8), n_chains * (length + 1))
    rows = []
    for c in range(n_chains):
        node = [f"_:b{names[c * (length + 1) + i]:08x}"
                for i in range(length + 1)]
        rows.extend((f"chain-{c:05d}", node[i], "<p>", node[i + 1])
                    for i in range(length))
    rng.shuffle(rows)
    return rows


def input_digest(rows) -> str:
    """sha256 over the rows in generated order (the order is part of the
    input: it decides how rows land in partitions)."""
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(map(str, r)).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def graph_digest(rows) -> str:
    """Order-insensitive sha256 of a set of (graph_id, subj, pred, obj)
    rows — the value output checks compare."""
    h = hashlib.sha256()
    for r in sorted(set(map(tuple, rows))):
        h.update("\x1f".join(r).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]
