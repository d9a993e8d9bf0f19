"""End-to-end load pipeline tests (SURVEY.md §3.1-3.2 shapes): rotated log
files -> parse -> watermark -> star-schema parquet warehouse."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from realparse_spark.operators.load import ACCESS_TABLES, load_style5, load_weblog, read_warehouse_table
from realparse_spark.sources.logs import latest_files, read_server_config


def style5_line(ip: str, ts: str, fname: str, *, status=200, stats="", tail="2097152 180 175 5 1 42",
                client="Win_5.0_6.0.9.373_play32_RN01_EN_586_0",
                guid="01234567-89ab-cdef-0123-456789abcdef") -> str:
    return (
        f'{ip} - - [{ts} -0800] "GET {fname} RTSP/1.0" {status} 1048576 '
        f"[{client}] [{guid}]{stats} {tail}"
    )


STATS_FULL = (
    " [Stat1: 1200 3 2 1 4 audio/x-pn-realaudio]"
    " [Stat2: 80000 64000 80000 16000 60000 1200 1195 4 1.5 1 2 audio/x-pn-realaudio]"
)


@pytest.fixture()
def log_dir(tmp_path):
    d = tmp_path / "logs"
    d.mkdir()
    # three rotated files; only the last two should load (S2)
    (d / "rmaccess.log.20021010").write_text(
        style5_line("10.0.0.1", "10/Oct/2002:01:00:00", "/old/skip.rm") + "\n"
    )
    (d / "rmaccess.log.20021012").write_text(
        "\n".join(
            [
                style5_line("10.0.0.2", "12/Oct/2002:09:00:00", "/media/a/one.rm", stats=STATS_FULL),
                style5_line("10.0.0.3", "12/Oct/2002:10:00:00", "/media/a/two.rm", stats=" [Stat3: rawdata]"),
            ]
        )
        + "\n"
    )
    (d / "rmaccess.log.20021013").write_text(
        style5_line(
            "10.0.0.4", "13/Oct/2002:09:03:38", "/media/b/three.rm?arg=1",
            client="QT (qtver=6.0;os=Mac OS X)", stats=" [Stat1: 5 4 3 2 1 ]",
        )
        + "\n"
    )
    (d / ".hidden").write_text("ignore me\n")
    (d / "other.log").write_text("not an rmaccess file\n")
    return str(d)


def test_latest_files_pruning(log_dir):
    got = [os.path.basename(p) for p in latest_files(log_dir, "rmaccess")]
    assert got == ["rmaccess.log.20021012", "rmaccess.log.20021013"]


def test_style5_load_and_idempotence(spark, log_dir, tmp_path):
    wh = str(tmp_path / "wh")
    counts = load_style5(spark, log_dir, wh)
    # 3 lines in latest-2 files
    assert counts["access"] == counts["file"] == counts["client"] == counts["network"] == 3
    assert counts["stats_mask1"] == 2  # full + empty-audio variants
    assert counts["stats_mask2"] == 1
    assert counts["stats_mask3"] == 1

    access = read_warehouse_table(spark, wh, "access")
    assert access.filter(F.col("server_type") == 1).count() == 3
    assert access.filter(F.col("logging_style") == 5).count() == 3

    file_t = read_warehouse_table(spark, wh, "file")
    names = {r.name for r in file_t.select("name").collect()}
    assert names == {"one.rm", "two.rm", "three.rm"}  # query arg truncated (P10)

    client = read_warehouse_table(spark, wh, "client")
    qt = client.filter(F.col("type") == "QT").collect()
    assert len(qt) == 1 and qt[0].os_version == "Mac OS X"

    s1 = read_warehouse_table(spark, wh, "stats_mask1")
    fmts = {r.audio_format for r in s1.collect()}
    assert fmts == {"audio/x-pn-realaudio", "UNKNOWN"}  # C12 default

    # FK integrity: every child key appears in access
    ids = {r.access_id for r in access.collect()}
    for t in ("file", "client", "network", "stats_mask1", "stats_mask2", "stats_mask3"):
        child = read_warehouse_table(spark, wh, t)
        assert {r.access_id for r in child.collect()} <= ids, t

    # re-run: watermark drops everything (F1 idempotence)
    counts2 = load_style5(spark, log_dir, wh)
    assert all(v == 0 for v in counts2.values())
    assert read_warehouse_table(spark, wh, "access").count() == 3

    # new rotated file with strictly newer rows -> only those load
    with open(os.path.join(log_dir, "rmaccess.log.20021014"), "w") as fh:
        fh.write(style5_line("10.0.0.5", "14/Oct/2002:08:00:00", "/media/c/four.rm") + "\n")
        # tie with existing max (13/Oct 09:03:38) must be dropped (strict >)
        fh.write(style5_line("10.0.0.6", "13/Oct/2002:09:03:38", "/media/c/tie.rm") + "\n")
    counts3 = load_style5(spark, log_dir, wh)
    assert counts3["access"] == 1
    assert read_warehouse_table(spark, wh, "access").count() == 4


def test_load_single_scan(spark, tmp_path):
    """The load must parse the corpus ONCE: quarantine count/write and the
    keyed star-schema writes all branch off one persisted parse.  Measured
    via Hadoop FileSystem byte-read statistics (local mode = one JVM, so
    driver-side statistics see every task's reads): total 'file'-scheme
    bytes read during the load must stay well under 2x the raw log size —
    the pre-fix pipeline re-scanned the text ~3x."""
    d = tmp_path / "biglogs"
    d.mkdir()
    lines = [
        style5_line(f"10.0.{i % 256}.{i % 250}", f"12/Oct/2002:09:{i % 60:02d}:{i % 60:02d}",
                    f"/media/x/clip{i}.rm", stats=STATS_FULL)
        for i in range(8000)
    ]
    lines.append("not a parseable line at all")  # exercises the quarantine write
    (d / "rmaccess.log.20021012").write_text("\n".join(lines) + "\n")
    log_bytes = os.path.getsize(d / "rmaccess.log.20021012")
    assert log_bytes > 1_000_000  # big enough that fixed overheads are noise

    jvm = spark.sparkContext._jvm
    def file_bytes_read():
        return sum(
            s.getBytesRead()
            for s in jvm.org.apache.hadoop.fs.FileSystem.getAllStatistics()
            if s.getScheme() == "file"
        )

    before = file_bytes_read()
    counts = load_style5(spark, str(d), str(tmp_path / "wh_scan"), latest=None)
    delta = file_bytes_read() - before
    assert counts["access"] == 8000 and counts["quarantine"] == 1
    # one text scan + parquet commit overhead; 3 scans would be ~3.0x
    assert delta < 1.8 * log_bytes, f"read {delta} bytes for a {log_bytes}-byte corpus"


def test_watermark_reads_only_latest_date_partition(spark, tmp_path):
    """The per-run watermark fetch must read ONE (server_type, access_date)
    partition dir, not scan the whole family: with a large old-date
    partition and a tiny new-date one, the bytes read by _family_watermark
    must stay far below the old partition's size."""
    from realparse_spark.operators.load import _family_watermark

    d = tmp_path / "wmlogs"
    d.mkdir()
    old = [
        style5_line(f"10.0.{i % 256}.{i % 250}", f"11/Oct/2002:09:{i % 60:02d}:{i % 60:02d}",
                    f"/media/x/old{i}.rm", stats=STATS_FULL)
        for i in range(6000)
    ]
    (d / "rmaccess.log.20021011").write_text("\n".join(old) + "\n")
    wh = str(tmp_path / "wh_wm")
    load_style5(spark, str(d), wh)

    (d / "rmaccess.log.20021012").write_text(
        style5_line("10.0.0.9", "12/Oct/2002:10:00:00", "/media/x/new.rm", stats=STATS_FULL) + "\n"
    )
    load_style5(spark, str(d), wh)

    access_dir = os.path.join(wh, "access", "server_type=1")
    sizes = {
        p: sum(
            os.path.getsize(os.path.join(r, f))
            for r, _dirs, files in os.walk(os.path.join(access_dir, p))
            for f in files if f.endswith(".parquet")
        )
        for p in os.listdir(access_dir) if p.startswith("access_date=")
    }
    assert len(sizes) == 2
    old_bytes = sizes["access_date=2002-10-11"]

    jvm = spark.sparkContext._jvm
    def file_bytes_read():
        return sum(
            s.getBytesRead()
            for s in jvm.org.apache.hadoop.fs.FileSystem.getAllStatistics()
            if s.getScheme() == "file"
        )

    before = file_bytes_read()
    wm = _family_watermark(spark, wh, real_family=True)
    delta = file_bytes_read() - before
    assert wm is not None
    # reading the big old partition would cost >= old_bytes
    assert delta < 0.5 * old_bytes, (delta, old_bytes)


def test_key_base_sidecar_pruned_and_crash_safe(spark, log_dir, tmp_path, monkeypatch):
    """The surrogate-key base must come from the `_max_key` sidecar (a
    one-line read — at 100 TB a table-property GET), never a full-table
    `max(access_id)` scan; the sidecar is a RESERVATION written before any
    append, so a crashed load burns ids but can never collide."""
    from realparse_spark.operators import load as L

    wh = str(tmp_path / "wh_key")
    L.load_style5(spark, log_dir, wh)
    access = read_warehouse_table(spark, wh, "access")
    hi = access.agg(F.max("access_id").alias("m")).collect()[0].m
    # sidecar present -> base derivable with NO SparkSession at all: the
    # strongest possible "no table scan" gate
    assert L._next_key_base(None, wh) == hi + 1
    # legacy warehouse (no sidecar): one-time full-scan fallback, same answer
    os.remove(os.path.join(wh, "access", "_max_key"))
    assert L._next_key_base(spark, wh) == hi + 1

    # crash between reservation and append: ids are burned, never reused
    with open(os.path.join(log_dir, "rmaccess.log.20021015"), "w") as fh:
        fh.write(style5_line("10.0.0.7", "15/Oct/2002:08:00:00", "/media/c/five.rm") + "\n")
    real_append = L._append

    def boom(df, warehouse, name):
        if name == "access":
            raise RuntimeError("simulated crash mid-load")
        real_append(df, warehouse, name)

    monkeypatch.setattr(L, "_append", boom)
    with pytest.raises(RuntimeError):
        L.load_style5(spark, log_dir, wh)
    monkeypatch.undo()
    assert L._next_key_base(None, wh) > hi  # reservation survived the crash

    counts = L.load_style5(spark, log_dir, wh)
    assert counts["access"] == 1
    ids = [
        r.access_id
        for r in read_warehouse_table(spark, wh, "access").select("access_id").collect()
    ]
    assert len(ids) == len(set(ids)), "surrogate key collision after crash"


def test_components_placeholder(spark, log_dir, tmp_path):
    """real_parse.pl:43 locks a `components` table it never writes; the
    warehouse mirrors it: typed, empty, present after any load, never
    appended to."""
    wh = str(tmp_path / "wh_comp")
    load_style5(spark, str(log_dir), wh)
    comp = read_warehouse_table(spark, wh, "components")
    assert comp.count() == 0
    assert comp.columns == ["component_id", "access_id", "component"]
    load_style5(spark, str(log_dir), wh)  # second run: still empty, no append
    assert read_warehouse_table(spark, wh, "components").count() == 0

    # a warehouse only the web loader has written declares it too
    d = tmp_path / "weblogs_comp"
    d.mkdir()
    (d / "log.1").write_text(WEB_LINES[0] + "\n")
    wh_web = str(tmp_path / "wh_comp_web")
    load_weblog(spark, str(d), wh_web)
    comp = read_warehouse_table(spark, wh_web, "components")
    assert comp is not None and comp.count() == 0
    assert comp.columns == ["component_id", "access_id", "component"]


def test_todays_file_mtime_pick(spark, log_dir):
    """S3 — open_log.pl:22-28 picks the file whose mtime date is today;
    files just written all have today's mtime."""
    from realparse_spark.sources.logs import todays_file

    got = {os.path.basename(p) for p in todays_file(spark, log_dir, "rmaccess")}
    assert got == {
        "rmaccess.log.20021010",
        "rmaccess.log.20021012",
        "rmaccess.log.20021013",
    }
    from datetime import date

    assert todays_file(spark, log_dir, "rmaccess", today=date(2001, 1, 1)) == []


def test_config_gate(spark, log_dir, tmp_path):
    cfg = tmp_path / "rmserver.cfg"
    cfg.write_text('<Var LoggingStyle="3"/>\n<Var StatsMask="2"/>\n')
    assert read_server_config(str(cfg)) == (3, 2)
    assert load_style5(spark, log_dir, str(tmp_path / "wh2"), config_path=str(cfg)) == {}


WEB_LINES = [
    '10.0.22.9 - - [13/Oct/2002:10:15:01 -0800] "GET /media/s/intro.wmv HTTP/1.1" 200 524288 "-" "Mozilla/4.0 (WMP 7.1)"',
    '10.0.22.9 - - [13/Oct/2002:10:16:01 -0800] "GET /media/s/a.wma HTTP/1.1" 200 1000 "-" "NSPlayer/9.0"',
    '10.0.22.9 - - [13/Oct/2002:10:17:01 -0800] "GET /index.html HTTP/1.1" 200 99 "-" "Mozilla/5.0"',
]


def test_weblog_load(spark, tmp_path):
    d = tmp_path / "weblogs"
    d.mkdir()
    (d / "log.1").write_text("\n".join(WEB_LINES) + "\n")
    wh = str(tmp_path / "wh3")
    counts = load_weblog(spark, str(d), wh)
    assert counts["access"] == 2  # F4: .html row filtered out

    access = read_warehouse_table(spark, wh, "access")
    assert access.filter(F.col("logging_style").isNull()).count() == 2
    assert access.filter(F.col("server_type") == 0).count() == 2
    client = read_warehouse_table(spark, wh, "client")
    infos = {r.client_info for r in client.collect()}
    assert infos == {"Mozilla/4.0 (WMP 7.1)", "NSPlayer/9.0"}

    # both families share the warehouse: style-5 watermark is independent (F2)
    counts2 = load_weblog(spark, str(d), wh)
    assert counts2["access"] == 0


def _table_rows(spark, wh: str, names) -> dict[str, int]:
    tables = {t: read_warehouse_table(spark, wh, t) for t in names}
    return {t: 0 if df is None else df.count() for t, df in tables.items()}


@pytest.mark.parametrize("family", ["style5", "web"])
def test_load_counts_match_table_rows(spark, tmp_path, family):
    """Each returned count equals the rows its table gained, on a first and
    on an incremental load (where the older rotation re-read is dropped by
    the watermark and only the new lines land)."""
    d = tmp_path / "logs"
    d.mkdir()
    if family == "style5":
        loader, prefix = load_style5, "rmaccess.log."
        first = [
            style5_line("10.0.0.2", "12/Oct/2002:09:00:00", "/media/a/one.rm", stats=STATS_FULL),
            style5_line("10.0.0.3", "12/Oct/2002:10:00:00", "/media/a/two.rm", stats=" [Stat3: rawdata]"),
            "not a parseable line",
        ]
        second = [
            style5_line("10.0.0.4", "13/Oct/2002:09:00:00", "/media/b/three.rm", stats=STATS_FULL),
            style5_line("10.0.0.5", "13/Oct/2002:09:30:00", "/media/b/four.rm", stats=" [Stat1: 5 4 3 2 1 ]"),
            style5_line("10.0.0.6", "13/Oct/2002:10:00:00", "/media/b/five.rm"),
            "another unparseable line",
        ]
        # (access, quarantine) per run; run 2 re-reads rotation 1, whose
        # lines fall under the watermark but whose bad line is quarantined again
        expect = [(2, 1), (3, 2)]
    else:
        loader, prefix = load_weblog, "log."
        first = [*WEB_LINES, '10.0.22.9 - - [garbled] "GET /media/s/bad.wmv HTTP/1.1" 200 1 "-" "x"']
        second = [
            '10.0.22.8 - - [14/Oct/2002:08:00:00 -0800] "GET /media/t/b.wmv HTTP/1.1" 200 77 "-" "NSPlayer/9.0"',
            '10.0.22.8 - - [14/Oct/2002:08:01:00 -0800] "GET /media/t/c.wma HTTP/1.1" 200 88 "-" "NSPlayer/9.0"',
            '10.0.22.8 - - [14/Oct/2002:08:02:00 -0800] "GET /media/t/d.wma HTTP/1.1" 200 99 "-" "NSPlayer/9.0"',
        ]
        expect = [(2, 1), (3, 1)]  # the .html line is filtered out (F4)
    wh = str(tmp_path / "wh")
    for i, (rotation, want) in enumerate(zip([first, second], expect), start=1):
        (d / f"{prefix}2002101{i}").write_text("\n".join(rotation) + "\n")
        before = _table_rows(spark, wh, (*ACCESS_TABLES, "quarantine"))
        counts = loader(spark, str(d), wh)
        after = _table_rows(spark, wh, (*ACCESS_TABLES, "quarantine"))
        gained = {t: after[t] - before[t] for t in counts}
        assert counts == gained, (i, counts, gained)
        assert (counts["access"], counts["quarantine"]) == want
        assert all(after[t] == before[t] for t in after if t not in counts)
    if family == "style5":
        assert counts["stats_mask1"] == 2 and counts["stats_mask2"] == 1 and counts["stats_mask3"] == 0


def test_watermark_legacy_layout_fallback(spark, tmp_path):
    """ADVICE fix: a warehouse written by the old layout (partitionBy
    server_type only, no access_date= subdirs) must still yield its
    watermark via the full-family scan — silently returning None would
    re-load already-loaded lines as duplicates."""
    from realparse_spark.operators.load import _family_watermark

    wh = str(tmp_path / "wh_legacy")
    legacy = spark.createDataFrame(
        [("10.0.0.1", "2002-10-12 09:00:00"), ("10.0.0.2", "2002-10-13 09:03:38")],
        "client_ip_address string, datetime string",
    ).select("client_ip_address", F.to_timestamp("datetime").alias("datetime"))
    legacy.write.parquet(os.path.join(wh, "access", "server_type=1"))

    wm = _family_watermark(spark, wh, real_family=True)
    expected = legacy.agg(F.max(F.unix_timestamp("datetime"))).collect()[0][0]
    assert wm == expected

    # an empty server_type dir (no data at all) still reports no watermark
    wh2 = str(tmp_path / "wh_empty")
    os.makedirs(os.path.join(wh2, "access", "server_type=1"))
    assert _family_watermark(spark, wh2, real_family=True) is None
