"""The decisions the two NeXus doors share (streaming/frame_core.py),
checked without a streaming query: run matching and frame sequencing
against a brute-force per-(run, frame) reference, the dispatch and
tombstone rule, and run directory names.  One Spark test pins the
driver-side matcher to the batch J1 join."""

from hypothesis import given, settings
from hypothesis import strategies as st

from supermusr_data_pipeline_spark.streaming.frame_core import (
    match_runs,
    pick_dispatch,
    quote,
    run_dir_name,
    unquote,
)


def _key(ts_us, frame_number):
    return (ts_us, frame_number // 3, 4, True, frame_number)


def _covers(run, ts_us):
    return run["from_us"] < ts_us and (
        run["until_us"] is None or ts_us < run["until_us"]
    )


def _reference(frames, runs, totals):
    """{(run_name, frame position): (frame_seq, event_time_zero,
    event_index)}, each pair derived on its own: the run's earlier
    frames are the covered frames ordered before this one."""
    out = {}
    for run in runs:
        name = run["run_name"]
        seq0, idx0 = totals.get(name, (0, 0))
        covered = [
            i for i, (key, _n) in enumerate(frames) if _covers(run, key[0])
        ]
        for i in covered:
            key = frames[i][0]
            earlier = [
                j for j in covered
                if (frames[j][0][0], frames[j][0][4]) < (key[0], key[4])
            ]
            out[(name, i)] = (
                seq0 + len(earlier),
                (key[0] - run["from_us"]) * 1000,
                idx0 + sum(max(frames[j][1], 1) for j in earlier),
            )
    return out


# timestamps and run bounds share one small grid, so ts == from_us and
# ts == until_us come up often
_ts = st.integers(0, 12)


@st.composite
def _case(draw):
    n = draw(st.integers(0, 10))
    frames = [
        (_key(draw(_ts), fno), draw(st.integers(0, 3)))
        for fno in draw(st.permutations(range(n)))
    ]
    runs = []
    for r in range(draw(st.integers(0, 4))):
        lo = draw(_ts)
        hi = draw(st.one_of(st.none(), st.integers(lo, 13)))
        runs.append({"run_name": f"run{r}", "from_us": lo, "until_us": hi})
    totals = {
        run["run_name"]: (draw(st.integers(0, 5)), draw(st.integers(0, 50)))
        for run in runs
        if draw(st.booleans())
    }
    return frames, runs, totals


@settings(max_examples=300, deadline=None)
@given(_case())
def test_match_runs_matches_brute_force(case):
    frames, runs, totals = case
    assigned, per_run = match_runs(frames, runs, totals)
    got = {(name, pos): (seq, etz, idx) for name, pos, seq, etz, idx in assigned}
    assert len(got) == len(assigned)  # each (run, frame) pair once
    assert got == _reference(frames, runs, totals)

    for run in runs:
        name = run["run_name"]
        seq0, idx0 = totals.get(name, (0, 0))
        mine = [(seq, idx, pos) for n, pos, seq, _e, idx in assigned if n == name]
        if not mine:
            assert name not in per_run
            continue
        # frame_seq contiguous from the run's totals; event_index cumulative
        assert [s for s, _i, _p in mine] == list(range(seq0, seq0 + len(mine)))
        idx = idx0
        for _s, i, pos in mine:
            assert i == idx
            idx += max(frames[pos][1], 1)
        assert per_run[name] == (seq0 + len(mine), idx)


def test_match_runs_boundaries_and_overlap():
    runs = [
        {"run_name": "closed", "from_us": 100, "until_us": 200},
        {"run_name": "open", "from_us": 150, "until_us": None},
    ]
    frames = [
        (_key(100, 0), 2),  # == from_us of "closed": no run
        (_key(150, 1), 0),  # "closed" only (== from_us of "open")
        (_key(160, 2), 3),  # both runs
        (_key(200, 3), 1),  # == until_us of "closed": "open" only
    ]
    assigned, per_run = match_runs(frames, runs, {"open": (7, 70)})
    assert assigned == [
        ("closed", 1, 0, 50_000, 0),
        ("closed", 2, 1, 60_000, 1),  # the zero-event frame counted 1
        ("open", 2, 7, 10_000, 70),
        ("open", 3, 8, 50_000, 73),
    ]
    assert per_run == {"closed": (2, 4), "open": (9, 74)}


class _Frame:
    def __init__(self, dids, first_ms):
        self.dids = set(dids)
        self.first_ms = first_ms


EXPECTED = [0, 1, 2]


def test_pick_dispatch_complete_ttl_and_tombstones():
    pending = {
        "complete": _Frame([0, 1, 2], 990),
        "young": _Frame([0, 1], 990),
        "old": _Frame([1], 400),
    }
    tombstones = {"expired": 1000, "live": 1001}
    out = pick_dispatch(pending, tombstones, EXPECTED, 1000, 500, 2000)
    assert sorted(k for k, _fs in out) == ["complete", "old"]
    assert list(pending) == ["young"]
    assert tombstones == {"live": 1001, "complete": 3000, "old": 3000}

    # later: "young" times out; its new tombstone outlives the older ones
    out = pick_dispatch(pending, tombstones, EXPECTED, 3000, 500, 2000)
    assert [k for k, _fs in out] == ["young"] and pending == {}
    assert tombstones == {"young": 5000}


@settings(max_examples=300, deadline=None)
@given(
    st.dictionaries(
        st.integers(0, 20),
        st.tuples(st.sets(st.sampled_from(EXPECTED)), st.integers(0, 1000)),
        max_size=12,
    ),
    st.dictionaries(st.integers(21, 40), st.integers(0, 2000), max_size=8),
    st.integers(0, 1500),
    st.integers(0, 600),
    st.integers(0, 600),
)
def test_pick_dispatch_property(frames, tombs, now_ms, ttl, tomb_ttl):
    pending = {k: _Frame(d, t) for k, (d, t) in frames.items()}
    states = dict(pending)
    tombstones = dict(tombs)
    out = pick_dispatch(pending, tombstones, EXPECTED, now_ms, ttl, tomb_ttl)
    due = {
        k for k, (d, t) in frames.items()
        if sorted(d) == EXPECTED or now_ms - t >= ttl
    }
    assert {k for k, _fs in out} == due
    assert all(states[k] is fs for k, fs in out)
    assert set(pending) == set(frames) - due
    armed = now_ms + tomb_ttl
    want = {k: e for k, e in tombs.items() if e > now_ms}
    if armed > now_ms:
        want.update({k: armed for k in due})
    assert tombstones == want


@given(st.text())
def test_quote_round_trips(name):
    assert unquote(quote(name)) == name
    assert "/" not in quote(name) and ":" not in quote(name)


def test_run_dir_name_escapes_like_partition_by():
    assert run_dir_name("run_a") == "run_name=run_a"
    assert run_dir_name("MuSR:12") == "run_name=MuSR%3A12"
    assert run_dir_name("a%b") == "run_name=a%25b"


def test_match_runs_agrees_with_batch_j1(spark):
    """The driver-side matcher and operators.run_matching's broadcast
    range join pick the same (run, frame) pairs, boundaries included."""
    from pyspark.sql import functions as F

    from supermusr_data_pipeline_spark.operators.run_matching import (
        match_events_to_runs,
    )

    t0 = 1_709_294_400_000_000  # 2024-03-01 12:00 UTC, in µs
    runs = [
        {"run_name": "a", "from_us": t0 + 100, "until_us": t0 + 200},
        {"run_name": "b", "from_us": t0 + 150, "until_us": t0 + 300},
        {"run_name": "c", "from_us": t0 + 200, "until_us": None},
    ]
    ts = [0, 100, 101, 150, 199, 200, 201, 299, 300, 10**6]
    frames = [(_key(t0 + t, fno), 1) for fno, t in enumerate(ts)]
    assigned, _per_run = match_runs(frames, runs, {})
    got = sorted((name, frames[pos][0][4]) for name, pos, *_ in assigned)

    runs_df = spark.createDataFrame(
        [(r["run_name"], r["from_us"], r["until_us"]) for r in runs],
        "run_name string, from_us long, until_us long",
    ).select(
        "run_name",
        F.timestamp_micros("from_us").alias("collect_from"),
        F.timestamp_micros("until_us").alias("collect_until"),
    )
    frames_df = spark.createDataFrame(
        [(k[0], k[4]) for k, _n in frames], "ts_us long, frame_number long"
    ).select(F.timestamp_micros("ts_us").alias("ts"), "frame_number")
    want = sorted(
        (r.run_name, r.frame_number)
        for r in match_events_to_runs(frames_df, runs_df)
        .select("run_name", "frame_number")
        .collect()
    )
    assert got == want
    assert {f for _r, f in got} == {2, 3, 4, 5, 6, 7, 8, 9}
