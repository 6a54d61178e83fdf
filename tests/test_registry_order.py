"""Pin the driver-sample window: the correctness gate verifies the FIRST 50
registered queries, so every operator family must land inside that window.

Round-1 lesson (VERDICT.md "What's wrong" #2): the relational suite
registered first and pushed the entire LLM-pipeline suite (dedup,
similarity, text, multimodal, sampling, sketches) past position 50,
leaving the flagship operators with zero driver-verified rows.  This test
fails if a future addition silently pushes a family back out.
"""

from __future__ import annotations

import pytest

from gearpump_spark.queries import all_oracles, all_queries

# Family → at least one query name with this prefix must be inside the
# first-50 window.  Prefixes, not exact names, so adding queries within a
# family doesn't break the pin — only evicting a whole family does.
FAMILIES = {
    "dedup": ("dedup_",),
    "similarity": ("similarity_",),
    "text": ("text_",),
    "multimodal": ("multimodal_",),
    "sampling": ("sample_",),
    "sketches": ("sketch_",),
    "graph": ("graph_",),
    "clustering": ("kmeans_",),
    "fingerprint": ("doc_fingerprint",),
    "pipeline": ("pipeline_",),
    "dataflow-wordcount": ("wordcount",),
    "windows": ("q_window_tumbling", "q_window_sliding"),
    "aggs": ("q_gbk_combine",),
    "joins": ("sketch_bloom_join", "q_asof_join"),
    "routing": ("q_keyed_route", "q_sol_passthrough"),
}

SAMPLE_WINDOW = 50


@pytest.fixture(scope="module")
def first_50() -> list[str]:
    return list(all_queries())[:SAMPLE_WINDOW]


def test_curated_window_is_exactly_first_50():
    """The explicit DRIVER_SAMPLE_WINDOW list IS the first-50 registration
    order — the reorder in _load() can't silently drift."""
    from gearpump_spark.queries import DRIVER_SAMPLE_WINDOW

    assert len(DRIVER_SAMPLE_WINDOW) == SAMPLE_WINDOW
    assert list(all_queries())[:SAMPLE_WINDOW] == DRIVER_SAMPLE_WINDOW


def test_every_family_in_driver_sample_window(first_50):
    """A family is covered when a member is in the CURRENT window or a
    member is already driver-verified in a past round's artifact —
    verification is cumulative, so the r3+ rotations deliberately evict
    fully-verified families to free slots for never-sampled queries."""
    covered = set(first_50) | _driver_seen_queries()
    missing = {
        family: prefixes
        for family, prefixes in FAMILIES.items()
        if not any(n.startswith(p) for p in prefixes for n in covered)
    }
    assert not missing, (
        f"operator families neither in the driver's first-{SAMPLE_WINDOW} "
        f"correctness sample nor ever driver-verified: {missing}. Reorder "
        "_load() in gearpump_spark/queries/__init__.py."
    )


def _driver_verified_queries() -> set[str]:
    """Queries hash-green in any past round's CORRECTNESS_r*.json artifact.

    The window holds 50 slots but the flagship suite has outgrown it, so
    coverage is CUMULATIVE: once a round's artifact records a query green,
    its slot can rotate to a not-yet-verified query next round."""
    import glob
    import json
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    green: set[str] = set()
    for path in glob.glob(str(root / "CORRECTNESS_r*.json")):
        try:
            rows = json.load(open(path))
        except (OSError, json.JSONDecodeError):
            continue
        for name, r in rows.items():
            if isinstance(r, dict) and r.get("rows_match") and r.get("hash_match"):
                green.add(name)
    return green


def _driver_seen_queries() -> set[str]:
    """Queries the driver has run without a hard failure in any past round —
    includes rows-only checks (err == 'no_oracle'), which can never be
    hash-green but DO establish the family ran under the driver."""
    import glob
    import json
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    seen: set[str] = set()
    for path in glob.glob(str(root / "CORRECTNESS_r*.json")):
        try:
            rows = json.load(open(path))
        except (OSError, json.JSONDecodeError):
            continue
        for name, r in rows.items():
            if not isinstance(r, dict):
                continue
            if (r.get("rows_match") and r.get("hash_match")) or (
                r.get("err") == "no_oracle" and r.get("spark_rows") is not None
            ):
                seen.add(name)
    return seen


def test_llm_suite_covered_by_window_or_past_rounds(first_50):
    """Every dedup/similarity/text/sampling/sketch query is either inside
    the current sample window or already driver-verified in a past round —
    i.e., the rotation never leaves a flagship permanently unverified."""
    all_names = list(all_queries())
    oracles = all_oracles()
    # Rows-only queries (iterative/approximate: IVF, BPE, ...) can never be
    # HASH-verified by the driver, so a window slot earns strictly less for
    # them than for an oracle-backed query (the curation comments in
    # queries/__init__.py codify that preference); they are pinned by
    # pytest goldens instead and stay out of this rotation bound.
    flagship = [
        n
        for n in all_names
        if (
            n.split("_")[0]
            in {"dedup", "similarity", "text", "sample", "sketch", "multimodal", "graph", "embedding", "pipeline"}
            or n.startswith("q_")
        )
        and n in oracles
    ]
    verified = _driver_verified_queries()
    outside = [n for n in flagship if n not in first_50 and n not in verified]
    # Queries added mid-round register behind the full window and get their
    # slot at the next rotation; bound how many may be in flight at once.
    # (r3 widens this bound to EVERY oracle-backed family — multimodal,
    # graph, embedding, pipeline, and the q_* relational/dataflow suite —
    # per the r2 verdict's action item #8, now that the r3 window absorbs
    # all 46 never-verified oracle-backed queries.)
    assert len(outside) <= 8, (
        f"flagship queries neither sampled nor ever driver-verified: {outside}. "
        "Rotate them into DRIVER_SAMPLE_WINDOW (evicting already-verified "
        "names) in gearpump_spark/queries/__init__.py."
    )


def _last_verified_round(before_round: int | None = None) -> dict[str, int]:
    """name -> most recent round whose artifact recorded a check AS STRONG
    as the query's current registration demands: hash-green for
    oracle-backed queries, rows-only-seen for oracle-less ones. A query
    converted from rows-only to oracle-backed therefore counts as
    never-verified — its old rows-only record is weaker than what a
    window slot would now buy.

    before_round: ignore artifacts from that round onward — used to judge
    a window against the information available when it was AUTHORED."""
    import glob
    import json
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    oracle_backed = set(all_oracles())
    last: dict[str, int] = {}
    for path in glob.glob(str(root / "CORRECTNESS_r*.json")):
        try:
            rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
            rows = json.load(open(path))
        except (OSError, ValueError, json.JSONDecodeError):
            continue
        if before_round is not None and rnd >= before_round:
            continue
        for name, r in rows.items():
            if not isinstance(r, dict):
                continue
            hash_green = bool(r.get("rows_match") and r.get("hash_match"))
            rows_seen = (
                r.get("err") == "no_oracle" and r.get("spark_rows") is not None
            )
            if hash_green or (rows_seen and name not in oracle_backed):
                last[name] = max(last.get(name, 0), rnd)
    return last


def test_window_authored_after_latest_artifact():
    """The window must be (re-)authored every round: its ROUND stamp must
    be at least the newest CORRECTNESS artifact's round. The window's own
    results landing (CORRECTNESS_r{ROUND}) leave the stamp equal, never
    behind; any newer artifact means the rotation was skipped."""
    import glob
    import pathlib

    from gearpump_spark.queries import DRIVER_SAMPLE_WINDOW_ROUND

    root = pathlib.Path(__file__).resolve().parent.parent
    rounds = [
        int(p.rsplit("_r", 1)[1].split(".")[0])
        for p in glob.glob(str(root / "CORRECTNESS_r*.json"))
    ]
    if rounds:
        assert DRIVER_SAMPLE_WINDOW_ROUND >= max(rounds), (
            f"window was authored in round {DRIVER_SAMPLE_WINDOW_ROUND} but "
            f"CORRECTNESS_r{max(rounds):02d} exists — rotate the window and "
            "bump DRIVER_SAMPLE_WINDOW_ROUND in gearpump_spark/queries/"
            "__init__.py."
        )


def test_window_prefers_least_recently_verified(first_50):
    """r3 verdict #6: once every query has a driver record, window slots
    must go to (a) never-verified queries and (b) the OLDEST records —
    a slot spent re-verifying a fresh green while a staler green sits
    outside the window lets regressions hide behind stale records.

    Mechanically: every windowed query with a past record must be at
    least as stale as every excluded query's record — judged against the
    artifacts that existed when the window was AUTHORED
    (DRIVER_SAMPLE_WINDOW_ROUND), so the window's own results landing
    after the round's last commit cannot retroactively turn the tree red
    (the r5/r6 boundary lesson)."""
    from gearpump_spark.queries import DRIVER_SAMPLE_WINDOW_ROUND

    last = _last_verified_round(before_round=DRIVER_SAMPLE_WINDOW_ROUND)
    registered = set(all_queries())
    oracle_backed = set(all_oracles())
    in_win = [last[n] for n in first_50 if n in last]
    # Oracle-less queries whose rows-only record already exists never
    # force a slot (r7 verdict "What's wrong" #2 / r8 "Next round" #2:
    # a rows-only re-sample buys no new signal — the no-re-spend
    # policy). Their staleness therefore doesn't bound the window.
    out_win = [
        last[n]
        for n in registered - set(first_50)
        if n in last and n in oracle_backed
    ]
    if not in_win or not out_win:
        return  # nothing to compare (e.g. fresh clone without artifacts)
    assert max(in_win) <= min(out_win), (
        "DRIVER_SAMPLE_WINDOW re-verifies a query whose record "
        f"(round {max(in_win)}) is fresher than a record outside the "
        f"window (round {min(out_win)}); rotate the stalest records in."
    )


def test_sampled_queries_overwhelmingly_have_oracles(first_50):
    """Rows-only checks are a weaker verdict; keep the sampled window
    dominated by full hash-verified oracles."""
    oracles = all_oracles()
    with_oracle = [n for n in first_50 if n in oracles]
    assert len(with_oracle) >= 40, (
        f"only {len(with_oracle)}/{SAMPLE_WINDOW} sampled queries have DuckDB "
        "oracles; the correctness gate is losing strength"
    )
