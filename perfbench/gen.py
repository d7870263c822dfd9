"""Seeded input generators and their planted ground truth.

Every generator is a pure function of its seed: the same seed gives the
same inputs and the same truth. The benchmark's output checks compare
what the library produced against the truth recorded here, never
against a previous run.
"""

from __future__ import annotations

import json
import math
import random
from dataclasses import dataclass, field

STAT_NAMES = (
    "Strength", "Perception", "Endurance", "Charisma", "Intelligence",
    "Agility", "Luck",
)
CLASSES = ("warrior", "mage", "rogue", "cleric", "bard")

# The record shape of the reference's benchmark.lua: seven scalar/string
# fields, a 2-symbol enum, a nested 7-long Stats record and an array of
# strings.
PERSON_WRITER = {
    "name": "Person",
    "type": "record",
    "fields": [
        {"name": "FirstName", "type": "string"},
        {"name": "LastName", "type": "string"},
        {"name": "Class", "type": "string"},
        {"name": "Age", "type": "int"},
        {"name": "Height", "type": "float"},
        {"name": "Phone", "type": "string"},
        {"name": "Email", "type": "string"},
        {"name": "Sex", "type": {
            "type": "enum", "name": "Sex", "symbols": ["FEMALE", "MALE"]}},
        {"name": "Stats", "type": {
            "type": "record", "name": "Stats",
            "fields": [{"name": n, "type": "long"} for n in STAT_NAMES]}},
        {"name": "Journal", "type": {"type": "array", "items": "string"}},
    ],
}

# Evolved reader of PERSON_WRITER, for reading the landed files back:
# fields reordered, LastName renamed to Surname through an alias,
# int->long and float->double promotions, and a new field filled from
# its default.
PERSON_READER = {
    "name": "Person",
    "type": "record",
    "fields": [
        {"name": "Sex", "type": {
            "type": "enum", "name": "Sex", "symbols": ["FEMALE", "MALE"]}},
        {"name": "Surname", "aliases": ["LastName"], "type": "string"},
        {"name": "FirstName", "type": "string"},
        {"name": "Class", "type": "string"},
        {"name": "Age", "type": "long"},
        {"name": "Height", "type": "double"},
        {"name": "Phone", "type": "string"},
        {"name": "Email", "type": "string"},
        {"name": "Country", "type": "string", "default": "unknown"},
        {"name": "Stats", "type": {
            "type": "record", "name": "Stats",
            "fields": [{"name": n, "type": "long"} for n in STAT_NAMES]}},
        {"name": "Journal", "type": {"type": "array", "items": "string"}},
    ],
}
DEFAULT_FIELD = ("Country", "unknown")

# ---------------------------------------------------------------- json_land

VIOLATIONS = ("unknown_key", "wrong_type", "bad_enum", "missing_key")

# The reference's rendering of each planted violation (runtime.lua
# message semantics, as catalogued in ERRORS.md).
EXPECTED_ERROR = {
    "unknown_key": 'Unknown key: "Nickname"',
    "wrong_type": "Age: Expecting INT, encountered STR",
    "bad_enum": 'Sex: Bad value: "OTHER"',
    "missing_key": 'Key missing: "Email"',
}


def person(rng: random.Random, i: int) -> dict:
    return {
        "FirstName": f"fn{i}",
        "LastName": f"ln{rng.randrange(5000)}",
        "Class": rng.choice(CLASSES),
        "Age": rng.randrange(90),
        # quarter steps are exact in float32, so read-back compares exactly
        "Height": rng.randrange(400, 880) / 4,
        "Phone": f"+1{rng.randrange(10**9):09d}",
        "Email": f"u{i}@example.org",
        "Sex": rng.choice(("FEMALE", "MALE")),
        "Stats": {n: rng.randrange(100) for n in STAT_NAMES},
        "Journal": [f"e{rng.randrange(500)}" for _ in range(rng.randrange(7))],
    }


def _violate(rec: dict, kind: str) -> dict:
    bad = dict(rec)
    if kind == "unknown_key":
        bad["Nickname"] = "nick"
    elif kind == "wrong_type":
        bad["Age"] = str(rec["Age"])
    elif kind == "bad_enum":
        bad["Sex"] = "OTHER"
    elif kind == "missing_key":
        del bad["Email"]
    else:
        raise ValueError(kind)
    return bad


@dataclass
class JsonLandInput:
    rows: list          # (id, json text)
    violations: dict    # id -> violation kind
    clean: dict         # FirstName -> record, for every clean row


def json_land_input(seed: int, n: int, violation_rate: float = 0.03) -> JsonLandInput:
    """``n`` Person JSON documents; ``violation_rate`` of them carry one
    planted violation, the four kinds in turn."""
    rng = random.Random(seed)
    n_bad = max(len(VIOLATIONS), round(n * violation_rate))
    bad_ids = sorted(rng.sample(range(n), n_bad))
    violations = {i: VIOLATIONS[k % len(VIOLATIONS)] for k, i in enumerate(bad_ids)}
    rows, clean = [], {}
    for i in range(n):
        rec = person(rng, i)
        kind = violations.get(i)
        if kind is None:
            clean[rec["FirstName"]] = rec
        else:
            rec = _violate(rec, kind)
        rows.append((i, json.dumps(rec, separators=(",", ":"))))
    return JsonLandInput(rows, violations, clean)


def flat_reader_row(rec: dict) -> dict:
    """The flat PERSON_READER row that the evolved read and flatten must
    give for one PERSON_WRITER record (the enum flattens to its symbol
    index)."""
    row = {
        "Sex": ["FEMALE", "MALE"].index(rec["Sex"]),
        "Surname": rec["LastName"],
        "FirstName": rec["FirstName"],
        "Class": rec["Class"],
        "Age": rec["Age"],
        "Height": rec["Height"],
        "Phone": rec["Phone"],
        "Email": rec["Email"],
        DEFAULT_FIELD[0]: DEFAULT_FIELD[1],
    }
    row.update({f"Stats.{n}": rec["Stats"][n] for n in STAT_NAMES})
    row["Journal"] = rec["Journal"]
    return row


# --------------------------------------------------------- curation_batches

# Fractions of each batch; the remainder are novel docs.
EXACT_MUTANT_SHARE = 0.2
LEXICAL_DUP_SHARE = 0.2
SEMANTIC_DUP_SHARE = 0.2

DOC_WORDS = 40
VOCAB = 5000
DIM = 64
SEMANTIC_NOISE = 0.02
# Replacing one interior word of a 40-word doc changes at most 3 of its
# 38 word 3-shingles: planted Jaccard >= 35/41. The MinHash stage runs
# at threshold 0.5, well below that margin.
LEXICAL_MIN_JACCARD = 35 / 41
LEXICAL_THRESHOLD = 0.5
# Top-1 cosine of a planted semantic near-dup is about 0.99; a novel
# random 64-d vector's best cosine against a few thousand others stays
# near 0.5.
SEMANTIC_THRESHOLD = 0.8


def _unit(v: list) -> list:
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


@dataclass
class Batch:
    rows: list                  # (doc_id, text, embedding)
    kind: dict                  # doc_id -> exact | lexical | semantic | novel
    source: dict = field(default_factory=dict)   # planted dup -> source doc_id


class CurationGen:
    """Corpus and batch generator. Batch ``k`` draws its planted
    duplicates from the corpus plus the novel docs of batches ``< k``,
    which the curation chain must have admitted and appended."""

    def __init__(self, seed: int, corpus_n: int, batch_n: int):
        self.seed = seed
        self.corpus_n = corpus_n
        self.batch_n = batch_n
        rng = random.Random(seed)
        self.corpus = [(i, self._text(rng), self._vec(rng)) for i in range(corpus_n)]
        self.pool = list(self.corpus)   # docs every index holds

    @staticmethod
    def _text(rng: random.Random) -> str:
        return " ".join(f"w{rng.randrange(VOCAB)}" for _ in range(DOC_WORDS))

    @staticmethod
    def _vec(rng: random.Random) -> list:
        return _unit([rng.gauss(0.0, 1.0) for _ in range(DIM)])

    def batch(self, k: int) -> Batch:
        rng = random.Random(self.seed * 1_000_003 + k + 1)
        base = self.corpus_n + k * self.batch_n
        n_exact = round(self.batch_n * EXACT_MUTANT_SHARE)
        n_lex = round(self.batch_n * LEXICAL_DUP_SHARE)
        n_sem = round(self.batch_n * SEMANTIC_DUP_SHARE)
        rows, kind, source = [], {}, {}
        for j in range(self.batch_n):
            doc_id = base + j
            src = self.pool[rng.randrange(len(self.pool))]
            if j < n_exact:
                words = src[1].upper().split(" ")
                text = "  " + "   ".join(words) + " \t"
                row, kd = (doc_id, text, self._vec(rng)), "exact"
            elif j < n_exact + n_lex:
                words = src[1].split(" ")
                words[rng.randrange(1, DOC_WORDS - 1)] = f"x{doc_id}"
                row, kd = (doc_id, " ".join(words), self._vec(rng)), "lexical"
            elif j < n_exact + n_lex + n_sem:
                vec = _unit([x + rng.gauss(0.0, SEMANTIC_NOISE) for x in src[2]])
                row, kd = (doc_id, self._text(rng), vec), "semantic"
            else:
                row, kd = (doc_id, self._text(rng), self._vec(rng)), "novel"
            rows.append(row)
            kind[doc_id] = kd
            if kd != "novel":
                source[doc_id] = src[0]
        rng.shuffle(rows)
        return Batch(rows, kind, source)

    def admit(self, batch: Batch) -> None:
        """Record the batch's novel docs as indexed (after the op
        appended them)."""
        self.pool.extend(r for r in batch.rows if batch.kind[r[0]] == "novel")
