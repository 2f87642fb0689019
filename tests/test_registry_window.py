"""Invariants of the gate-registry driver window (VERDICT r10 items 1/8,
r11 items 1/9, r12 item 1).

The correctness driver hash-verifies the FIRST ``DRIVER_WINDOW`` entries of
``queries()``.  Round 10's hand-maintained boundary comment drifted 8
positions and hid 8 stale gates from the intended rotation; the registry now
builds from an explicit window/backlog split with asserts, this test pins
each round's rotation contents, and the staleness invariant recomputes gate
freshness from the CORRECTNESS_r*.json artifacts themselves. Re-stated
TIME-STABLY in r13 (VERDICT r12 item 1): instead of "the global-oldest
cohort must be in the window" (which went red the moment each round's
artifact dropped), the invariant is now "no gate's newest evidence may be
older than latest_round - 3" — with a 50-gate window over a ~170-gate
registry, four windows cover everything, so a correctly-rotated registry is
green BOTH before and after the round's artifact lands.

No SparkSession needed — this is pure registry/artifact introspection.
"""

from __future__ import annotations

import json
import pathlib

import __spark_entry__ as em

REPO = pathlib.Path(__file__).resolve().parent.parent

# How many rounds a gate's driver evidence may trail the newest artifact.
# 50-gate window, ~170 gates: ceil(170/50) = 4 windows cover the registry,
# so a straight oldest-first rotation keeps every gate within 3 rounds.
MAX_EVIDENCE_AGE_ROUNDS = 3

# The full 44-gate cohort whose newest driver evidence is round 10
# (recomputed from CORRECTNESS_r01..r14): outside the 3-round horizon once
# the round-14 artifact landed, so all of it must be re-verified.
R10_STALE = {
    "bloom_join", "cume_dist", "decontaminate_spans", "dedup_clusters",
    "dedup_containment", "dedup_incremental_minhash", "dedup_jaccard_prefix",
    "dedup_keep_best", "dedup_ngram_jaccard", "dedup_weighted_jaccard",
    "dedup_winnow", "dsir_resample", "embedding_decontam", "epoch_shuffle",
    "event_transitions", "filter_calibration", "first_last_ignore_nulls",
    "fuzzy_match", "interval_overlap_join", "leakage_safe_split",
    "nation_volume", "percentile_approx", "posting_lists", "profile_approx",
    "profile_table", "scalar_subquery", "scd_asof", "semi_join", "set_ops",
    "stream_annotate", "table_digest", "temperature_mix", "text_normalize",
    "tfidf_pairs", "tpch_q14", "tpch_q18", "tpch_q19", "tpch_q6", "tpch_q8",
    "trailing_window", "unigram_nll", "unpivot_measures", "weighted_sample",
    "weighted_sample_stratified",
}

# Gates that run the range join, whose build side is now cached per
# snapshot version — these must be re-verified by the next driver run.
R15_TOUCHED = {
    "annotate", "annotate_multisnapshot", "legacy_annotate",
    "annotate_nearest_site", "stream_annotate",
}


def test_window_size_and_boundary():
    q = em.queries()
    names = list(q)
    assert em.DRIVER_WINDOW == 50
    assert len(names) == len(set(names))
    window = set(names[: em.DRIVER_WINDOW])
    assert len(em._window_gates()) == em.DRIVER_WINDOW
    assert set(em._window_gates()) == window


def test_r15_rotation_contents():
    window = set(list(em.queries())[: em.DRIVER_WINDOW])
    missing_stale = R10_STALE - window
    assert not missing_stale, f"r10-stale gates outside the window: {missing_stale}"
    missing_touched = R15_TOUCHED - window
    assert not missing_touched, f"r15-touched gates outside the window: {missing_touched}"


def test_every_gate_has_an_oracle_or_is_documented():
    q, o = em.queries(), em.oracle_sql()
    # the registry currently keeps full oracle coverage; if a genuinely
    # non-SQL-expressible gate is ever added without one, list it here.
    allowed_no_oracle = set()
    missing = [k for k in q if k not in o and k not in allowed_no_oracle]
    assert not missing, f"gates without oracle SQL: {missing}"


def test_window_and_backlog_disjoint_and_complete():
    w, b = em._window_gates(), em._backlog_gates()
    assert not (w.keys() & b.keys())
    assert len(w) + len(b) == len(em.queries())


def _freshness() -> dict[str, int]:
    """Newest round with a hash-green driver row, per gate, recomputed
    from the CORRECTNESS_r*.json artifacts in the repo root."""
    newest: dict[str, int] = {}
    for path in sorted(REPO.glob("CORRECTNESS_r*.json")):
        rnd = int(path.stem.split("_r")[1])
        rows = json.loads(path.read_text())
        for gate, row in rows.items():
            if isinstance(row, dict) and row.get("hash_match"):
                newest[gate] = max(newest.get(gate, 0), rnd)
    return newest


def test_no_gate_evidence_older_than_rotation_horizon():
    """The time-stable staleness invariant (VERDICT r12 item 1): every
    gate must either sit in the CURRENT window (it is being
    re-verified this round) or carry driver evidence no older than
    latest_round - MAX_EVIDENCE_AGE_ROUNDS.  Unlike the r12 "global
    oldest cohort" form, this stays green when the round's own
    artifact drops: the window gates are exempt by construction, and
    a straight oldest-first rotation keeps the backlog inside the
    horizon."""
    newest = _freshness()
    if not newest:  # fresh clone without artifacts — nothing to check
        return
    latest = max(newest.values())
    horizon = latest - MAX_EVIDENCE_AGE_ROUNDS
    window = set(em._window_gates())
    gates = set(em.queries())
    # gates with NO driver evidence at all (newly added) must be queued
    # for verification, i.e. inside the window
    never_verified = gates - set(newest)
    stranded_new = never_verified - window
    assert not stranded_new, (
        f"gates with no driver evidence outside the window: {stranded_new}"
    )
    too_old = {
        g: r
        for g, r in newest.items()
        if g in gates and g not in window and r < horizon
    }
    assert not too_old, (
        f"gates whose newest evidence (value) trails r{latest} by more "
        f"than {MAX_EVIDENCE_AGE_ROUNDS} rounds and are not queued in the "
        f"current window: {dict(sorted(too_old.items()))}"
    )
