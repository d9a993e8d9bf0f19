"""Tests of the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import random

import pytest

import gen
from gen import STYLE5, WEB, Hit, Rotation, WarehouseModel
from tracing import Span, self_time_by_layer, self_times, tail


def _write_all(root: str, seed: int) -> dict[str, bytes]:
    """Every input the workloads write for `seed`, as {relative path: bytes}."""
    feed = gen.CronFeed(random.Random(f"{seed}/cron"), 50)
    os.makedirs(os.path.join(root, "logs"))
    for tick in feed.ticks(10):
        if tick.rotation:
            gen.write_rotation(os.path.join(root, "logs"), tick.rotation)
    rots, _ = gen.backfill_rotations(random.Random(f"{seed}/backfill"), 2, 50)
    os.makedirs(os.path.join(root, "backfill"))
    for rot in rots:
        gen.write_rotation(os.path.join(root, "backfill"), rot)
    gen.write_dims(os.path.join(root, "dims"), gen.report_dims(random.Random(f"{seed}/dims"), 6), 4)
    corpus = gen.near_dup_corpus(random.Random(f"{seed}/dedup"), 20, 4, 3)
    gen.write_corpus(os.path.join(root, "corpus"), corpus, 4)
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _write_all(str(tmp_path / "a"), 7)
    b = _write_all(str(tmp_path / "b"), 7)
    c = _write_all(str(tmp_path / "c"), 8)
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a)


def test_inputs_are_split_into_at_least_four_files(tmp_path):
    files = _write_all(str(tmp_path), 1)
    for table in ("customers", "project", "project_file", "corpus"):
        assert sum(1 for k in files if f"{table}{os.sep}" in k) >= 4
    assert sum(1 for k in files if k.startswith(f"backfill{os.sep}rmaccess.")) == 2


def _rot(family: str, name: str, *hits: Hit) -> Rotation:
    return Rotation(family, name, list(hits))


def _web(line_name: str, epoch: int | None, bytes_sent: int = 10) -> Hit:
    line = f'10.0.0.1 - - [x] "GET /m/{line_name} HTTP/1.1" 200 {bytes_sent} "-" "ua"'
    return Hit(line, epoch, line_name, "10.0.0.1", bytes_sent)


def test_model_drops_watermark_ties_and_rereads():
    m = WarehouseModel()
    m.land(_rot(STYLE5, "rmaccess.1", Hit("a", 100, bytes_sent=1), Hit("b", 105, bytes_sent=2),
                Hit("bad-1", None)))
    assert m.load(STYLE5) == {"parsed": 3, "quarantined": 1, "loaded": 2}
    assert m.watermark[STYLE5] == 105
    # the tie (105) and a late line (90) are dropped; 106 is loaded
    m.land(_rot(STYLE5, "rmaccess.2", Hit("tie", 105, bytes_sent=4), Hit("late", 90, bytes_sent=8),
                Hit("new", 106, bytes_sent=16)))
    assert m.load(STYLE5) == {"parsed": 6, "quarantined": 1, "loaded": 1}
    # a cron run with nothing new re-reads both rotations and loads nothing
    assert m.load(STYLE5) == {"parsed": 6, "quarantined": 1, "loaded": 0}
    t = m.truth()
    assert t["rows"] == {STYLE5: 3, WEB: 0}
    assert t["bytes_sent"][STYLE5] == 1 + 2 + 16
    assert t["quarantined"] == ["bad-1"]  # re-read three times, one distinct line


def test_model_latest_two_window():
    m = WarehouseModel()
    for k, ep in enumerate((10, 20, 30)):
        m.land(_rot(STYLE5, f"rmaccess.{k}", Hit(f"l{k}", ep), Hit(f"bad{k}", None)))
    assert m.load(STYLE5) == {"parsed": 4, "quarantined": 2, "loaded": 2}
    assert m.truth()["quarantined"] == ["bad1", "bad2"]  # rmaccess.0 is outside the window
    assert m.watermark[STYLE5] == 30


def test_model_web_filter_runs_before_quarantine():
    m = WarehouseModel()
    m.land(_rot(WEB, "log.1",
                _web("a.wmv", 50, 3), _web("b.wma", 60, 5), _web("page.html", 70, 7),
                _web("broken.wmv", None), _web("broken.html", None)))
    assert m.load(WEB) == {"parsed": 3, "quarantined": 1, "loaded": 2}
    t = m.truth()
    assert t["rows"][WEB] == 2 and t["bytes_sent"][WEB] == 8
    assert len(t["quarantined"]) == 1 and "broken.wmv" in t["quarantined"][0]
    assert m.watermark[WEB] == 60  # the .html line never reaches the watermark


def test_cron_feed_plants_ties_late_and_malformed_lines():
    feed = gen.CronFeed(random.Random("plant"), 200, late_share=0.05, bad_share=0.02)
    ticks = feed.ticks(12)
    loaded = [t for t in ticks if t.rotation is not None]
    empty = [t for t in ticks if t.rotation is None]
    assert empty and all(t.expect["loaded"] == 0 for t in empty)
    for t in loaded[2:]:  # every family has a watermark by now
        n = len(t.rotation.hits)
        assert t.expect["loaded"] == n - int(n * 0.05) - int(n * 0.02) - (int(n * 0.2) if t.family == WEB else 0)
    # each later rotation carries one line exactly on the watermark
    m = WarehouseModel()
    for t in ticks:
        if t.rotation is not None:
            wm = m.watermark[t.family]
            if wm is not None:
                assert any(h.epoch == wm for h in t.rotation.hits)
            m.land(t.rotation)
        m.load(t.family)
    assert m.truth() == feed.model.truth()


def test_generated_lines_are_well_formed_style5():
    feed = gen.CronFeed(random.Random("fmt"), 100, bad_share=0.0)
    rot = feed.ticks(1)[0].rotation
    for h in rot.hits:
        # the parser takes the first 2 and last 6 space-preceded digit runs
        toks = [t for t in h.line.split(" ") if t.isdigit()]
        assert int(toks[0]) in (200, 304, 404)
        assert int(toks[1]) == h.bytes_sent
        assert (int(toks[-5]), int(toks[-4])) == (h.file_time, h.sent_time)
        assert f"[{gen.clf_timestamp(h.epoch)} -0800]" in h.line


def test_clf_timestamp():
    assert gen.clf_timestamp(gen.EPOCH0) == "01/Mar/2003:00:00:00"
    assert gen.clf_timestamp(gen.EPOCH0 + 86400 * 31 + 3661) == "01/Apr/2003:01:01:01"


def _dims():
    return gen.Dims(
        customers=[(1, "Acme", "Yes"), (2, "NoHost", "No")],
        project=[(10, 1), (20, 2)],
        project_file=[(10, "clip%"), (10, "%.wmv"), (10, "sh_w.rm"), (20, "clip%")],
    )


def test_report_truth_gating_like_and_internal_ips():
    rows = [
        Hit("", 1, "clip1.rm", "10.0.0.1", 0, 180, 120),
        Hit("", 1, "clip2.rm", "10.0.0.2", 0, 180, 200),  # sent > file: no view time
        Hit("", 1, "clip1.rm", "192.168.1.9", 0, 9000, 90),  # internal: excluded
        Hit("", 1, "clip3.rm", "10.0.0.4", 0, 0, 0),  # zero times: counted, no times
        Hit("", 1, "intro.wmv", "10.0.0.5", 0, None, None),  # web row
        Hit("", 1, "long.rm", "10.0.0.6", 0, 7265, 3725),
        Hit("", 1, "shxw.rm", "10.0.0.7", 0, 10, 5),  # `_` matches one character
    ]
    got = gen.report_truth(rows, _dims(), 1)
    assert got[(1, 10, "clip%", "Acme")] == (3, "3:00", "2:00", "2:00")
    assert got[(1, 10, "%.wmv", "Acme")] == (1, "N/A", "N/A", "N/A")
    assert got[(1, 10, "sh_w.rm", "Acme")] == (1, "0:10", "0:05", "0:05")
    assert gen.report_truth(rows, _dims(), 2) == {}  # hosting=No
    only_long = [rows[5]]
    dims = gen.Dims([(1, "Acme", "Yes")], [(10, 1)], [(10, "long%")])
    assert gen.report_truth(only_long, dims, 1)[(1, 10, "long%", "Acme")] == (1, "2:01:05", "1:02:05", "1:02:05")


def test_report_average_rounds_half_up():
    rows = [Hit("", 1, "a.rm", "10.0.0.1", 0, 100, 1), Hit("", 1, "a.rm", "10.0.0.1", 0, 100, 2)]
    dims = gen.Dims([(1, "A", "Yes")], [(10, 1)], [(10, "a%")])
    assert gen.report_truth(rows, dims, 1)[(1, 10, "a%", "A")][2] == "0:02"  # 1.5 -> 2
    assert gen.round_half_up(gen.Fraction(5, 2)) == 3
    assert gen.round_half_up(gen.Fraction(7, 3)) == 2


def test_like_to_regex():
    assert gen.like_to_regex("news%").fullmatch("news12.rm")
    assert not gen.like_to_regex("news%").fullmatch("xnews12.rm")
    assert gen.like_to_regex("promo_.rm").fullmatch("promo7.rm")
    assert not gen.like_to_regex("promo_.rm").fullmatch("promo17.rm")
    assert not gen.like_to_regex("a.b").fullmatch("axb")  # '.' is literal


def test_corpus_groups_partition_the_docs():
    c = gen.near_dup_corpus(random.Random(3), 50, 10, 1001)
    ids = [d for d, _ in c.docs]
    assert len(ids) == len(set(ids))
    planted = [d for g in c.groups for d in g] + c.singletons
    assert sorted(planted) == sorted(ids)
    assert max(len(g) for g in c.groups) == 1001  # above max_bucket=1000
    text = dict(c.docs)
    for g in c.groups[:-1]:  # copies differ from the base by one word
        words = [text[d].split() for d in g]
        assert all(len(w) == len(words[0]) for w in words)
        assert all(sum(a != b for a, b in zip(words[0], w)) <= 2 for w in words)


@pytest.mark.parametrize("n, pct, beyond", [(11, 9, 10), (20, 50, 10), (37, 72, 10), (100, 90, 10), (101, 90, 10)])
def test_tail_is_highest_percentile_with_ten_beyond(n, pct, beyond):
    samples = list(range(n, 0, -1))  # unsorted input
    value, p, b = tail(samples)
    assert (p, b) == (pct, beyond)
    assert sum(1 for s in samples if s > value) == beyond


def test_tail_needs_more_than_ten_samples():
    assert tail([1.0] * 10) is None
    assert tail([]) is None


def _span(i, layer, parent, start, end):
    return Span(i, f"s{i}", layer, "r", parent, start, end)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, "bench", None, 0.0, 10.0),
        _span(1, "load", 0, 1.0, 4.0),
        _span(2, "load", 0, 3.0, 6.0),  # overlaps span 1: the union is 1..6
        _span(3, "parse", 2, 4.0, 5.0),
        _span(4, "logs", 0, 9.5, 11.0),  # sticks out of its parent: clipped at 10
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 0.5, 3.0, 2.0, 1.0, 1.5])
    assert self_time_by_layer(spans) == pytest.approx({"bench": 4.5, "load": 5.0, "parse": 1.0, "logs": 1.5})


def test_tracer_nests_spans_and_is_silent_when_disabled():
    from tracing import Tracer

    t = iter(range(100))
    tr = Tracer(True, clock=lambda: float(next(t)))
    with tr.span("run", "bench", request="req-1"):
        with tr.span("load", "operators.load"):
            pass
    assert [(s.name, s.parent, s.request, s.start, s.end) for s in tr.spans] == [
        ("run", None, "req-1", 0.0, 3.0), ("load", 0, "req-1", 1.0, 2.0)]
    off = Tracer(False)
    with off.span("x", "bench"):
        pass
    assert off.spans == []
