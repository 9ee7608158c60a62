"""Seeded benchmark inputs and their truth tables.

Each workload's input is a transcripts parquet plus ``truth.json`` (gold
triples, the gold triples stated with both entities named in one turn, and
the typo-variant -> base entity_id table), generated from the
seed and cached under ``<work>/inputs/<workload>-seed<seed>-<size>/``. The
same workload, seed and size always give byte-identical rows, so a cached
input and a freshly generated one are interchangeable.

- ``transcripts_skew``: the repository's own synthetic corpus
  (``sources.transcripts.synthesize_transcripts``) with the long-tail
  conversation (``skew_factor=40`` -> 960 turns, above
  ``long_conv_salt_turns``) and the hot entity on. Extraction-heavy. Its
  pronoun follow-up turns state triples only coreference can recover;
  the benchmarked job runs with coreference off (as ``run_with_merge``
  does), so recall is scored on the other gold triples.
- ``variants_dense``: one ``"{First Last} works at {WoRd WoRd Inc}."``
  fact per turn over a seeded pseudo-word vocabulary;
  about 30% of the base surfaces also appear with a single-edit typo in a
  non-first token. Few block keys and many surfaces per block, so linking
  (blocking + pair scoring) dominates.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from datetime import datetime, timedelta, timezone

# input size per workload. Up to a few thousand conversations a
# transcripts_skew job costs about the same (the pipeline's per-job cost
# dominates); at 3,000 (~72k turns) extraction is its largest layer. At
# 150 persons per first name variants_dense makes ~100k candidate pairs,
# and candidate pairs plus match edges are over half of a job.
SIZES = {
    "transcripts_skew": {"n_convs": 3000},
    "variants_dense": {"n_first": 3, "persons_per_first": 150, "n_org_heads": 4,
                       "orgs_per_head": 60},
}

_CONSONANTS = "bcdfghjklmnpqrstvwxz"
_VOWELS = "aeiouy"


def ensure_input(workload: str, seed: int, work_dir: str) -> dict:
    """Generate (or reuse) the workload's input; return its descriptor:
    ``{"dir", "transcripts", "n_turns", "truth"}``."""
    params = SIZES[workload]
    tag = "-".join(f"{k}{v}" for k, v in sorted(params.items()))
    d = os.path.join(work_dir, "inputs", f"{workload}-seed{seed}-{tag}")
    done = os.path.join(d, "_DONE")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        out = os.path.join(d, "transcripts.parquet")
        if workload == "transcripts_skew":
            truth = _transcripts_skew(seed, out, **params)
        else:
            truth = _variants_dense(seed, out, **params)
        with open(os.path.join(d, "truth.json"), "w") as f:
            json.dump(truth, f)
        open(done, "w").close()
    with open(os.path.join(d, "truth.json")) as f:
        truth = json.load(f)
    return {
        "dir": d,
        "transcripts": os.path.join(d, "transcripts.parquet"),
        "n_turns": truth["n_turns"],
        "truth": truth,
    }


def _canonical_id(entity_type: str, surface: str) -> str:
    from entity_extraction_service_spark.functions.ids import entity_id_py
    from entity_extraction_service_spark.functions.normalize import (
        group_norm_py,
        normalize_text_py,
    )

    return entity_id_py(entity_type, group_norm_py(normalize_text_py(surface)))


class _RowCollector:
    """Stands in for the SparkSession ``synthesize_transcripts`` takes: its
    one call, ``createDataFrame(rows, schema=...)``, hands back the rows, so
    the corpus is written without starting Spark."""

    def createDataFrame(self, rows, schema=None):  # noqa: N802 (Spark's name)
        return rows


_COREF_TAG = "coref:"


def _transcripts_skew(seed: int, out: str, n_convs: int) -> dict:
    from entity_extraction_service_spark.sources import transcripts

    # tag the predicate of the triples the pronoun follow-ups record, to
    # tell them apart in the ground truth; the predicate is not part of
    # the turn text and the list keeps its length, so the rows and the
    # random draws are exactly those of the untagged generator
    followups = transcripts.COREF_FOLLOWUPS
    transcripts.COREF_FOLLOWUPS = [(t, o, _COREF_TAG + p) for t, o, p in followups]
    try:
        rows, gt = transcripts.synthesize_transcripts(
            _RowCollector(), n_convs=n_convs, seed=seed, mean_turns=24, skew_factor=40,
            hot_entity_share=0.3, with_truth=True,
        )
    finally:
        transcripts.COREF_FOLLOWUPS = followups
    _write_transcripts(rows, out)
    gold = {(s, p.removeprefix(_COREF_TAG), o) for s, p, o in gt.triples}
    named = {t for t in gt.triples if not t[1].startswith(_COREF_TAG)}
    # a typo variant is a recorded surface whose own id differs from the
    # canonical id the ground truth assigns it (ORG_VARIANTS)
    variants = sorted(
        [info["entity_type"], surface, eid]
        for eid, info in gt.entities.items()
        for surface in info["variants"]
        if _canonical_id(info["entity_type"], surface) != eid
    )
    return {"triples": sorted(map(list, gold)), "named_triples": sorted(map(list, named)),
            "variants": variants, "n_turns": len(rows)}


def _pseudo_words(rng: random.Random, n: int, syllables: int, taken: set[str]) -> list[str]:
    """``n`` distinct capitalized words of CV or CVC syllables. At four
    syllables two random words sharing a first token stay under the 0.85
    L2 threshold (measured: < 0.1% of pairs), while a one-edit typo of a
    word always clears it."""
    out: list[str] = []
    while len(out) < n:
        w = "".join(
            rng.choice(_CONSONANTS) + rng.choice(_VOWELS)
            + (rng.choice(_CONSONANTS) if rng.random() < 0.5 else "")
            for _ in range(syllables)
        )
        if w not in taken:
            taken.add(w)
            out.append(w.capitalize())
    return out


def _camel(word: str) -> str:
    """"Bamitek" -> "BaMitek". An inner capital keeps the person pattern
    (two ``[A-Z][a-z]+`` tokens) from matching inside an org name, which
    would add a nested PERSON mention and false PERSON->PERSON triples."""
    return word[:2] + word[2:].capitalize()


def _typo(rng: random.Random, word: str, start: int = 1) -> str:
    """One edit (substitute, delete or transpose) of lowercase letters at
    index ``start`` or later."""
    i = rng.randrange(start, len(word) - 1)
    op = rng.randrange(3)
    if op == 0:
        c = rng.choice([x for x in _CONSONANTS + _VOWELS if x != word[i]])
        return word[:i] + c + word[i + 1:]
    if op == 1:
        return word[:i] + word[i + 1:]
    return word[:i] + word[i + 1] + word[i] + word[i + 2:]


def _with_variants(rng: random.Random, bases: list[tuple[str, str]], suffix: str,
                   typo_start: int, share: float = 0.3) -> list[tuple[str, str]]:
    """Mention schedule: every base twice, plus its typo variant (second
    token edited) once for ``share`` of the bases — the base always has
    the higher count, so it is the component's representative."""
    sched: list[tuple[str, str]] = []
    surfaces = {f"{a} {b}{suffix}" for a, b in bases}
    for a, b in bases:
        base = f"{a} {b}{suffix}"
        sched += [(base, base), (base, base)]
        if rng.random() < share:
            var = f"{a} {_typo(rng, b, typo_start)}{suffix}"
            if var not in surfaces:
                surfaces.add(var)
                sched.append((var, base))
    rng.shuffle(sched)
    return sched


def _variants_dense(seed: int, out: str, n_first: int, persons_per_first: int,
                    n_org_heads: int, orgs_per_head: int) -> dict:
    rng = random.Random(seed)
    taken: set[str] = set()
    firsts = _pseudo_words(rng, n_first, 2, taken)
    lasts = _pseudo_words(rng, n_first * persons_per_first, 4, taken)
    heads = [_camel(w) for w in _pseudo_words(rng, n_org_heads, 2, taken)]
    tails = [_camel(w) for w in _pseudo_words(rng, n_org_heads * orgs_per_head, 4, taken)]
    persons = [(firsts[i % n_first], last) for i, last in enumerate(lasts)]
    orgs = [(heads[i % n_org_heads], tail) for i, tail in enumerate(tails)]
    p_sched = _with_variants(rng, persons, "", typo_start=1)
    # a short org suffix: a long shared one ("Corporation") lifts random
    # same-block pairs over the threshold
    o_sched = _with_variants(rng, orgs, " Inc", typo_start=3)
    # pair every person mention with an org mention; the org schedule is
    # cycled only whole (persons padded with extra base mentions) so every
    # base keeps a strictly higher count than its variant
    n_turns = -(-len(p_sched) // len(o_sched)) * len(o_sched)
    p_sched += [(p, p) for p in (f"{a} {b}" for a, b in
                                 rng.choices(persons, k=n_turns - len(p_sched)))]
    o_cycle = o_sched * (n_turns // len(o_sched))

    rows, triples, variants = [], set(), set()
    base_ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    turns_per_conv = 24
    for k, ((p, p_base), (o, o_base)) in enumerate(zip(p_sched, o_cycle)):
        ci, ti = divmod(k, turns_per_conv)
        text = f"{p} works at {o}."
        rows.append((f"vconv_{ci:06d}", ti, "user", text, None,
                     base_ts + timedelta(minutes=k)))
        p_id, o_id = _canonical_id("PERSON", p_base), _canonical_id("ORG", o_base)
        triples.add((p_id, "works_for", o_id))
        if p != p_base:
            variants.add(("PERSON", p, p_id))
        if o != o_base:
            variants.add(("ORG", o, o_id))
    _write_transcripts(rows, out)
    # every fact names both of its entities
    return {"triples": sorted(map(list, triples)), "named_triples": sorted(map(list, triples)),
            "variants": sorted(map(list, variants)), "n_turns": len(rows)}


def _write_transcripts(rows: list[tuple], out: str) -> None:
    """Write rows in the ``TRANSCRIPT_SCHEMA`` layout as one parquet file,
    without a Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
    ])
    os.makedirs(out)
    table = pa.table([pa.array(col, type=f.type) for col, f in zip(zip(*rows), schema)],
                     schema=schema)
    pq.write_table(table, os.path.join(out, "part-0.parquet"))
