"""The benchmark's own checks: its verifier, its span arithmetic and its
metric names. No Spark session is started.

    python3 -m pytest perfbench/tests -q      # from the repository root
"""

import json
import os
import re
from types import SimpleNamespace

import pandas as pd
import pytest

from perfbench import harvest, inputs, layers, oracles, run
from perfbench.trace import Span, Tracer, covered, self_times
from audit_anomaly_detection_etl_spark.plans.spec import SuiteSpec

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


# ---------------------------------------------------------------------------
# verifier
# ---------------------------------------------------------------------------

def _perfect_run(expected: dict[str, set], n_parts: int, part_of):
    """Sink rows and verdicts an engine with exactly ``expected`` would write."""
    rows = [
        (k, fam, "", part_of(k)) for fam, keys in expected.items() for k in sorted(keys)
    ]
    sink = pd.DataFrame(rows, columns=["key", "check", "detail", "part"])
    per_part = sink.groupby("part").size().to_dict()
    verdicts = {
        p: SimpleNamespace(passed=per_part.get(p, 0) == 0, n_violations=per_part.get(p, 0))
        for p in range(n_parts)
    }
    return sink, verdicts


@pytest.fixture(scope="module")
def audio():
    t, planted = inputs.audio_tables(n_clips=240, n_parts=3, seed=5, plants_per_check=2)
    spec = SuiteSpec(checks=SuiteSpec().checks + oracles.OPTIN_CHECKS)
    optin, near = oracles.audio_optin_oracle(t.clips.to_pandas(), spec)
    expected = {**inputs.expected_default(t, planted), **optin}
    parts = dict(zip(t.clips.column("clip_id").to_pylist(), t.clips.column("part").to_pylist()))
    parts.update(zip(t.clips_ref.column("clip_id").to_pylist(), t.clips_ref.column("part").to_pylist()))
    return t, planted, expected, near, parts


def test_oracle_flags_every_planted_defect(audio):
    _t, planted, expected, _near, _parts = audio
    assert set(planted) == {"dropout", "stutter", "loudness", "codec_sniff"}
    for fam, keys in planted.items():
        assert keys and keys <= expected[fam], fam
    # a label swap also fails the payload SNR check
    assert planted["codec_sniff"] <= expected["payload_snr"]


def test_verifier_accepts_the_expected_rows(audio):
    _t, _planted, expected, near, parts = audio
    sink, verdicts = _perfect_run(expected, 3, parts.get)
    assert oracles.check_suite(sink, verdicts, expected, near) == []


def test_verifier_rejects_a_planted_wrong_violation_set(audio):
    _t, _planted, expected, near, parts = audio
    sink, verdicts = _perfect_run(expected, 3, parts.get)
    dropped = sink[sink["check"] != "dropout"]  # engine misses the dropouts
    errors = oracles.check_suite(dropped, verdicts, expected, near)
    assert any(e.startswith("dropout:") for e in errors)

    extra = pd.concat([sink, pd.DataFrame(
        [("clip-not-there", "stutter", "", 0)], columns=sink.columns)])
    errors = oracles.check_suite(extra, verdicts, expected, near)
    assert any(e.startswith("stutter:") for e in errors)
    # the extra row also contradicts part 0's verdict
    assert any(e.startswith("part 0:") for e in errors)


def test_codec_domain_rows_fold_into_the_codec_family():
    sink = pd.DataFrame(
        [("a", "schema_constraint", "codec:domain", 0), ("a", "codec", "x", 0)],
        columns=["key", "check", "detail", "part"],
    )
    verdicts = {0: SimpleNamespace(passed=False, n_violations=2)}
    assert oracles.check_suite(sink, verdicts, {"codec": {"a"}}) == []


def test_verdict_must_match_its_rows():
    sink = pd.DataFrame([("a", "uniqueness", "", 1)], columns=["key", "check", "detail", "part"])
    verdicts = {1: SimpleNamespace(passed=True, n_violations=0)}
    errors = oracles.check_suite(sink, verdicts, {"uniqueness": {"a"}})
    assert errors and errors[0].startswith("part 1:")


def test_near_threshold_keys_are_left_out():
    sink = pd.DataFrame([("a", "tonal", "", 0)], columns=["key", "check", "detail", "part"])
    verdicts = {0: SimpleNamespace(passed=False, n_violations=1)}
    assert oracles.check_suite(sink, verdicts, {"tonal": set()}, {"tonal": {"a"}}) == []
    assert oracles.check_suite(sink, verdicts, {"tonal": set()}) != []


def test_interior_silence_runs_skip_the_clip_edges():
    import numpy as np

    x = np.ones(100)
    x[:10] = 0  # leading: not interior
    x[40:60] = 0  # interior, 20 samples
    x[95:] = 0  # trailing: not interior
    assert oracles._interior_silences_ms(x, 1000, 1e-4) == [20.0]


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

def test_self_time_is_duration_minus_children():
    spans = [
        Span("op", 0.0, 10.0, None),
        Span("a", 1.0, 4.0, 0),
        Span("b", 5.0, 6.0, 0),
        Span("a.child", 2.0, 3.5, 1),
    ]
    assert self_times(spans) == pytest.approx([6.0, 1.5, 1.0, 1.5])


def test_overlapping_children_are_counted_once():
    assert covered([(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]) == pytest.approx(4.0)
    spans = [Span("p", 0.0, 10.0, None), Span("x", 0.0, 2.0, 0), Span("y", 1.0, 3.0, 0)]
    assert self_times(spans)[0] == pytest.approx(7.0)


def test_tracer_patches_and_restores():
    mod = SimpleNamespace(f=lambda x: x + 1)
    original = mod.f
    t = Tracer()
    calls = []
    t.patch(mod, "f", "mod.f", lambda a, k, out: calls.append(out))
    with t.span("outer"):
        assert mod.f(1) == 2
    assert calls == [2]
    totals = t.totals()
    assert totals["mod.f"][2] == 1 and totals["outer"][1] <= totals["outer"][0]
    assert t.spans[1].parent == 0
    t.restore()
    assert mod.f is original


def test_parse_metric_units():
    assert harvest.parse_metric("total (min, med, max (stageId: taskId))\n1.5 MiB (1 B, ...)") == 1.5
    assert harvest.parse_metric("total (min, med, max)\n578 ms (140 ms, ...)") == pytest.approx(0.578)
    assert harvest.parse_metric("100,000") == 100000
    assert harvest.parse_metric("2048.0 KiB") == 2.0


def test_rss_peak_is_per_op():
    rss = harvest.RssPeak()
    rss.begin()
    rss.sample()
    before = rss.py
    block = bytearray(64 * 2**20)  # zero-filled, so every page is touched
    del block
    rss.sample()
    assert rss.py >= before + 60
    rss.begin()  # the next op does not inherit the peak
    rss.sample()
    assert rss.py < before + 30


# ---------------------------------------------------------------------------
# names
# ---------------------------------------------------------------------------

def test_metric_names_and_units_use_the_allowed_characters():
    for name, unit in {**layers.UNITS, **run.END_TO_END}.items():
        assert NAME.match(name), name
        assert UNIT.match(unit), unit


def test_benchmark_json_matches_the_program():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    assert {k: m["unit"] for k, m in e2e.items()} == run.END_TO_END
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    from perfbench.workloads import WORKLOADS

    for w in bench["workloads"]:
        wl = WORKLOADS[w["name"]]("unused", 0)
        assert [m["name"] for m in bench["per_layer"]] == layers.metric_names(wl)
    for m in bench["per_layer"]:
        assert layers.UNITS[m["name"]] == m["unit"]
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"] + bench["workloads"]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
