"""The benchmark's own tests; none of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen_insurance  # noqa: E402
import gen_warehouse  # noqa: E402
import measure  # noqa: E402

SMALL = gen_insurance.Scale(contracts=2_000, vehicles=700, claims=200, devices=4, events_per_device=500)


# ---------------------------------------------------------------- percentiles


def test_percentile_is_nearest_rank():
    values = [float(v) for v in range(1, 101)]
    assert measure.percentile(values, 50) == 50.0
    assert measure.percentile(values, 90) == 90.0
    assert measure.percentile([3.0, 1.0, 2.0], 50) == 2.0


def test_p90_needs_ten_samples_beyond_it():
    assert measure.tail_count(100, 90) == 10
    assert measure.tail_count(99, 90) == 9
    assert measure.reportable_percentile([float(v) for v in range(99)], 90) is None
    assert measure.reportable_percentile([float(v) for v in range(100)], 90) == 89.0


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        measure.percentile([], 50)


def test_stopwatch_takes_stolen_time_per_cpu_off(monkeypatch):
    stolen = iter([100.0, 108.0])
    monkeypatch.setattr(measure, "stolen_s", lambda: next(stolen))
    monkeypatch.setattr(measure, "NCPU", 4)
    watch = measure.Stopwatch()
    with watch.timing():
        pass
    assert -2.0 < watch.seconds < -1.9


# ---------------------------------------------------------------- self times


def span(name, start, end, parent=-1, op=0):
    return measure.Span(name, start, end, parent, op)


def test_self_time_subtracts_children():
    spans = [span("op", 0, 10), span("build", 1, 4, 0), span("action", 5, 9, 0), span("operator", 2, 3, 1)]
    assert measure.self_times(spans) == pytest.approx([3.0, 2.0, 4.0, 1.0])


def test_self_time_counts_overlapping_children_once_and_clips_them():
    spans = [span("parent", 0, 10), span("a", 1, 5, 0), span("b", 3, 6, 0), span("c", 8, 12, 0)]
    # covered: [1, 6] and [8, 10] -> 7 of 10
    assert measure.self_times(spans)[0] == pytest.approx(3.0)


def test_self_times_sum_to_root_duration():
    spans = [span("op", 0, 7), span("x", 1, 2, 0), span("y", 2, 6, 0), span("z", 3, 4, 2)]
    assert sum(measure.self_times(spans)) == pytest.approx(7.0)


def test_tracer_nests_and_tags_ops():
    tr = measure.Tracer()
    tr.op = 3
    with tr.span("bench.op"):
        with tr.span("plans.build"):
            pass
        tr.wrap("plans.action", lambda: None)()
    tr.op = 4
    with tr.span("bench.op"):
        pass
    assert [(s.name, s.parent, s.op) for s in tr.spans] == [
        ("bench.op", -1, 3),
        ("plans.build", 0, 3),
        ("plans.action", 0, 3),
        ("bench.op", -1, 4),
    ]
    per_layer = tr.layer_self_times({3})
    assert set(per_layer) == {"bench.op", "plans.build", "plans.action"}
    root = tr.spans[0]
    assert sum(per_layer.values()) == pytest.approx(root.end - root.start)


def test_wrap_names_span_from_arguments():
    tr = measure.Tracer()
    tr.wrap(lambda path: f"write/{path}", lambda path: path)("dim_date")
    assert tr.spans[0].name == "write/dim_date"


# ---------------------------------------------------------------- generators


def digest(directory: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


def read(directory: str, name: str):
    opts = pacsv.ConvertOptions(
        column_types={c: "string" for c in ["timeMili", "alarmClass", "client_age", "year", "previous_claims"]},
        strings_can_be_null=True,
    )
    return pacsv.read_csv(os.path.join(directory, name), convert_options=opts)


def shares(directory: str) -> dict[str, int]:
    """Counts of every pathology the cleaners handle."""
    c = read(directory, "contracts.csv")
    empty = pc.is_null(c["contract_id"])
    premium = pc.drop_null(c["annual_premium"])
    cl = read(directory, "claims.csv")
    t = read(directory, "telematics.csv")
    pos = pc.equal(t["variable"], "POSITION")
    keys = list(zip(t["deviceId"].to_pylist(), (float(x) for x in t["timeMili"].to_pylist())))
    ordered = sorted(keys)
    return {
        "rows.contracts": c.num_rows,
        "rows.claims": cl.num_rows,
        "rows.telematics": t.num_rows,
        "empty_rows": pc.sum(empty).as_py(),
        "us_start_date": pc.sum(pc.match_substring(c["start_date"], "/")).as_py(),
        "premium_dollar": pc.sum(pc.starts_with(premium, "$")).as_py(),
        "premium_prefix_euro": pc.sum(pc.starts_with(premium, "€")).as_py(),
        "premium_negative": pc.sum(pc.starts_with(premium, "-")).as_py(),
        "null_gender": pc.sum(pc.and_(pc.is_null(c["gender"]), pc.invert(empty))).as_py(),
        "claims_dash_date": pc.sum(pc.match_substring_regex(cl["occurrence_date"], r"^\d\d-\d\d-\d{4}$")).as_py(),
        "claims_slash_date": pc.sum(pc.match_substring(cl["occurrence_date"], "/")).as_py(),
        "position": pc.sum(pos).as_py(),
        "packed_gps": pc.sum(
            pc.and_(pos, pc.match_substring_regex(t["value"], r"^-?[\d.]+,-?[\d.]+,-?[\d.]+$"))
        ).as_py(),
        "duplicate_ts": sum(a == b for a, b in zip(ordered, ordered[1:])),
        "out_of_order": keys != ordered,
    }


def test_insurance_generator_is_deterministic(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    assert gen_insurance.generate(a, 5, SMALL) == gen_insurance.generate(b, 5, SMALL)
    assert digest(a) == digest(b)


def test_other_seed_changes_bytes_not_shape(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    rows_a = gen_insurance.generate(a, 5, SMALL)
    rows_b = gen_insurance.generate(b, 6, SMALL)
    assert digest(a) != digest(b)
    assert rows_a == rows_b
    assert shares(a) == shares(b)


def test_every_pathology_is_present(tmp_path):
    d = str(tmp_path / "raw")
    gen_insurance.generate(d, 1, SMALL)
    s = shares(d)
    n = SMALL.contracts
    assert s["rows.contracts"] == n + SMALL.empty_rows
    assert s["empty_rows"] == SMALL.empty_rows
    assert s["us_start_date"] == round(n * 0.30)
    assert s["premium_dollar"] == round(n * 0.20)
    assert s["premium_prefix_euro"] == round(n * 0.25)
    assert s["premium_negative"] == round(n * 0.15)
    assert s["null_gender"] == round(n * 0.21)
    assert s["claims_dash_date"] == round(SMALL.claims * 0.50)
    assert s["claims_slash_date"] == round(SMALL.claims * 0.15)
    assert s["position"] == s["packed_gps"] == round(SMALL.telematics * 0.55)
    assert s["duplicate_ts"] == round(SMALL.telematics * 0.10)
    assert s["out_of_order"]


def test_warehouse_generator_is_deterministic(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    rows = gen_warehouse.generate(a, 3, 0.001)
    assert rows == gen_warehouse.generate(b, 3, 0.001) == gen_warehouse.generate(c, 4, 0.001)
    assert digest(a) == digest(b) != digest(c)
    assert rows["lineitem"] == 6_000 and rows["documents"] == 200
