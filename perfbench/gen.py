"""Seeded input generator and ground truth for the benchmark.

Everything the program under test reads is written here from a
`random.Random(seed)`: style-5 and web log rotations, the report dims and
the document corpus.  The generator never calls the program (no
`synth_style5` / `synth_weblog`, no fixture directory), so a change to the
program can never change its own inputs.

Alongside each input it computes the ground truth the benchmark checks the
program's output against.  The truth for the loads comes from
`WarehouseModel`, a plain-Python model of the documented load semantics:

- a load reads the latest two rotations of its family (natural name order);
- a line whose timestamp does not parse goes to quarantine;
- web lines are first filtered to those containing `.wma` or `.wmv`;
- a good line is loaded only if its epoch is strictly greater than the
  family's watermark, the max epoch already loaded (ties are dropped).

This module imports nothing from pyspark or the program, so its tests run
without a JVM.
"""

from __future__ import annotations

import calendar
import os
import random
import re
import time
from dataclasses import dataclass, field
from fractions import Fraction

MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
STYLE5, WEB = "style5", "web"
PREFIX = {STYLE5: "rmaccess.", WEB: "log."}
WEB_MEDIA_RE = re.compile(r"\.wma|\.wmv")  # the web loader's content filter
REPORT_GATE_RE = re.compile(r"\.(wmv|wma|mov)")  # patterns reported as N/A
EPOCH0 = calendar.timegm((2003, 3, 1, 0, 0, 0))

STEMS = ("news", "lecture", "promo", "concert", "trailer", "sermon", "match", "keynote")
STYLE5_EXTS = ("rm", "rm", "ra", "wma", "wmv", "mov")
WEB_EXTS = ("wma", "wmv")
WEB_OTHER = ("index.html", "logo.gif", "trailer1.mov", "style.css")
CLIENT_INFOS = (
    "Win_5.0_6.0.9.{n}_play32_RN01_EN_586_0",
    "Mac_10.2_6.0.7.{n}_plus32_RN02_DE_ppc_0",
    "QT (qtver=6.0;os=Mac OS X)",
    "",
)
USER_AGENTS = (
    "NSPlayer/9.0.0.2980",
    "Windows-Media-Player/9.00.00.3250",
    "Mozilla/4.0 (compatible; MSIE 6.0; Windows NT 5.1)",
)
STATS = (
    "",
    " [Stat1: 1200 3 2 1 4 audio/x-pn-realaudio]",
    " [Stat1: 980 0 1 0 2 ] [Stat2: 80000 64000 80000 16000 60000 1200 1195 4 1.5 1 2 audio/x-pn-realaudio]",
    " [Stat3: raw_data_{n}]",
)


def clf_timestamp(epoch: int) -> str:
    """'DD/Mon/YYYY:HH:MM:SS' of a UTC epoch, independent of the C locale."""
    g = time.gmtime(epoch)
    return (f"{g.tm_mday:02d}/{MONTHS[g.tm_mon - 1]}/{g.tm_year}:"
            f"{g.tm_hour:02d}:{g.tm_min:02d}:{g.tm_sec:02d}")


@dataclass(frozen=True)
class Hit:
    """One generated log line and the fields the truth needs from it.

    `epoch` is None for a malformed line (its timestamp cannot parse)."""

    line: str
    epoch: int | None
    name: str = ""
    ip: str = ""
    bytes_sent: int = 0
    file_time: int | None = None
    sent_time: int | None = None


@dataclass
class Rotation:
    family: str
    name: str  # file name, e.g. rmaccess.00003
    hits: list[Hit]

    def text(self) -> str:
        return "".join(h.line + "\n" for h in self.hits)


def _ip(rng: random.Random) -> str:
    if rng.random() < 0.12:  # internal clients, excluded from reports
        return f"192.168.{rng.randrange(256)}.{rng.randrange(1, 255)}"
    return f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"


def _media_name(rng: random.Random, exts: tuple[str, ...]) -> str:
    return f"{rng.choice(STEMS)}{rng.randrange(1, 31)}.{rng.choice(exts)}"


class LineMaker:
    """Makes style-5 and web lines; malformed lines carry a serial number so
    every one is distinct (the quarantine check compares distinct lines)."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.serial = 0

    def _next(self) -> int:
        self.serial += 1
        return self.serial

    def style5(self, epoch: int) -> Hit:
        r = self.rng
        ip, name = _ip(r), _media_name(r, STYLE5_EXTS)
        status = r.choice((200, 200, 200, 304, 404))
        bytes_sent = r.randrange(1, 1_000_000)
        file_time = 0 if r.random() < 0.05 else r.randrange(1, 7200)
        sent_time = 0 if r.random() < 0.05 else r.randrange(0, file_time + 600)
        info = r.choice(CLIENT_INFOS).format(n=r.randrange(1000))
        guid = f"{r.getrandbits(32):08x}-{r.getrandbits(16):04x}-{r.getrandbits(48):012x}"
        stats = r.choice(STATS).format(n=r.randrange(77))
        line = (
            f'{ip} - - [{clf_timestamp(epoch)} -0800] "GET /media/{r.choice(STEMS)}/{name} RTSP/1.0" '
            f"{status} {bytes_sent} [{info}] [{guid}]{stats} "
            f"{r.randrange(1, 10**7)} {file_time} {sent_time} {r.randrange(5)} {r.randrange(3)} {r.randrange(1, 50)}"
        )
        return Hit(line, epoch, name, ip, bytes_sent, file_time, sent_time)

    def style5_malformed(self) -> Hit:
        n, ip = self._next(), _ip(self.rng)
        if n % 2:  # no bracket groups at all
            return Hit(f"{ip} truncated-entry-{n} GET /media/broken{n}.rm", None)
        return Hit(  # a timestamp with an impossible month
            f'{ip} - - [31/Xyz/2003:00:00:{n % 60:02d} -0800] "GET /media/x/bad{n}.rm RTSP/1.0" '
            f"200 17 [] [] 1 2 3 0 0 {n % 50}", None)

    def web(self, epoch: int, media: bool = True) -> Hit:
        r = self.rng
        ip = _ip(r)
        name = _media_name(r, WEB_EXTS) if media else r.choice(WEB_OTHER)
        bytes_sent = r.randrange(1, 1_000_000)
        line = (
            f'{ip} - - [{clf_timestamp(epoch)} -0800] "GET /media/{r.choice(STEMS)}/{name} HTTP/1.1" '
            f'{r.choice((200, 200, 304, 404))} {bytes_sent} "-" "{r.choice(USER_AGENTS)}"'
        )
        return Hit(line, epoch, name, ip, bytes_sent)

    def web_malformed(self, media: bool) -> Hit:
        n, ip = self._next(), _ip(self.rng)
        ext = "wmv" if media else "html"
        return Hit(
            f'{ip} - - [31/Xyz/2003:00:00:{n % 60:02d} -0800] "GET /media/bad/broken{n}.{ext} HTTP/1.1" '
            f'200 17 "-" "NSPlayer/9.0.0.2980"', None)


# ---------------------------------------------------------------------------
# the load model: ground truth for every load the benchmark drives
# ---------------------------------------------------------------------------


def web_media(hit: Hit) -> bool:
    return WEB_MEDIA_RE.search(hit.line) is not None


@dataclass
class WarehouseModel:
    """Expected warehouse state after a sequence of loads."""

    landed: dict[str, list[Rotation]] = field(default_factory=lambda: {STYLE5: [], WEB: []})
    watermark: dict[str, int | None] = field(default_factory=lambda: {STYLE5: None, WEB: None})
    rows: dict[str, list[Hit]] = field(default_factory=lambda: {STYLE5: [], WEB: []})
    # Distinct quarantined lines.  A load re-quarantines the malformed lines
    # of the older rotation it re-reads, so the row count depends on how
    # often a file is re-read; the set of lines does not.
    quarantined: set[str] = field(default_factory=set)

    def land(self, rot: Rotation) -> None:
        self.landed[rot.family].append(rot)

    def load(self, family: str, latest: int | None = 2) -> dict[str, int]:
        """Apply one load of `family`; returns the expected lines parsed,
        quarantined and loaded by this run."""
        window = self.landed[family] if latest is None else self.landed[family][-latest:]
        hits = [h for rot in window for h in rot.hits]
        if family == WEB:
            hits = [h for h in hits if web_media(h)]
        bad = [h for h in hits if h.epoch is None]
        wm = self.watermark[family]
        new = [h for h in hits if h.epoch is not None and (wm is None or h.epoch > wm)]
        self.quarantined.update(h.line for h in bad)
        self.rows[family].extend(new)
        if new:
            self.watermark[family] = max(h.epoch for h in new)
        return {"parsed": len(hits), "quarantined": len(bad), "loaded": len(new)}

    def truth(self) -> dict:
        return {
            "rows": {f: len(v) for f, v in self.rows.items()},
            "bytes_sent": {f: sum(h.bytes_sent for h in v) for f, v in self.rows.items()},
            "quarantined": sorted(self.quarantined),
        }


class RotationMaker:
    """Per-family clocks so each new rotation starts after every line the
    family has seen; late lines are planted at or below the model's current
    watermark, one of them exactly on it (strict `>` must drop the tie)."""

    def __init__(self, rng: random.Random, model: WarehouseModel):
        self.rng, self.model = rng, model
        self.lines = LineMaker(rng)
        self.clock = {STYLE5: EPOCH0 + rng.randrange(86400), WEB: EPOCH0 + rng.randrange(86400)}
        self.count = {STYLE5: 0, WEB: 0}

    def make(self, family: str, n_lines: int, late_share: float = 0.0,
             bad_share: float = 0.0, other_share: float = 0.0) -> Rotation:
        r, lm = self.rng, self.lines
        start = self.clock[family] + 1
        span = max(n_lines, 2) * 2
        n_late = int(n_lines * late_share)
        n_bad = int(n_lines * bad_share)
        n_other = int(n_lines * other_share) if family == WEB else 0
        n_good = n_lines - n_late - n_bad - n_other
        hits: list[Hit] = []
        for _ in range(n_good):
            ep = start + r.randrange(span)
            hits.append(lm.style5(ep) if family == STYLE5 else lm.web(ep))
        wm = self.model.watermark[family]
        if wm is not None:
            for i in range(n_late):
                ep = wm if i == 0 else wm - r.randrange(3600)
                hits.append(lm.style5(ep) if family == STYLE5 else lm.web(ep))
        for i in range(n_bad):
            hits.append(lm.style5_malformed() if family == STYLE5 else lm.web_malformed(media=i % 3 != 0))
        for _ in range(n_other):
            hits.append(lm.web(start + r.randrange(span), media=False))
        r.shuffle(hits)
        self.clock[family] = start + span
        self.count[family] += 1
        return Rotation(family, f"{PREFIX[family]}{self.count[family]:05d}", hits)


def write_rotation(log_dir: str, rot: Rotation) -> int:
    """Write one rotation file; returns its size in bytes."""
    data = rot.text().encode()
    with open(os.path.join(log_dir, rot.name), "wb") as fh:
        fh.write(data)
    return len(data)


# ---------------------------------------------------------------------------
# workload inputs
# ---------------------------------------------------------------------------

# Every `CRON_EMPTY_EVERY`-th tick of a family lands no rotation: cron fires,
# the loader re-reads the same two files, and every line is at or below
# the watermark.  The pattern is fixed (not seeded) so every seed sees the
# same mix of loaded and empty runs.
CRON_EMPTY_EVERY = 4


@dataclass
class CronTick:
    family: str
    rotation: Rotation | None  # None: nothing new landed before this run
    expect: dict[str, int]  # the model's lines parsed / quarantined / loaded


class CronFeed:
    """A tick schedule alternating style-5 and web runs into one warehouse.
    Each tick is applied to `model` as it is made, so its `expect` is the
    truth of that run given every earlier tick."""

    def __init__(self, rng: random.Random, lines: int, late_share: float = 0.02,
                 bad_share: float = 0.01, other_share: float = 0.2):
        self.model = WarehouseModel()
        self.maker = RotationMaker(rng, self.model)
        self.shares = (late_share, bad_share, other_share)
        self.lines = lines
        self.n = 0

    def ticks(self, n: int) -> list[CronTick]:
        out = []
        for _ in range(n):
            i, self.n = self.n, self.n + 1
            family = STYLE5 if i % 2 == 0 else WEB
            rot = None
            if (i // 2) % CRON_EMPTY_EVERY != CRON_EMPTY_EVERY - 1 or not self.model.landed[family]:
                rot = self.maker.make(family, self.lines, *self.shares)
                self.model.land(rot)
            out.append(CronTick(family, rot, self.model.load(family)))
        return out


def backfill_rotations(rng: random.Random, files_per_family: int, lines: int,
                       bad_share: float = 0.01, other_share: float = 0.2) -> tuple[list[Rotation], dict]:
    """Rotations for one backfill into an empty warehouse (every file of
    each family read in one run), with the truth of that run."""
    model = WarehouseModel()
    maker = RotationMaker(rng, model)
    rots = []
    for family in (STYLE5, WEB):
        for _ in range(files_per_family):
            rot = maker.make(family, lines, 0.0, bad_share, other_share)
            model.land(rot)
            rots.append(rot)
    expect = {f: model.load(f, latest=None) for f in (STYLE5, WEB)}
    return rots, {"expect": expect, **model.truth()}


# ---------------------------------------------------------------------------
# report dims and the report truth
# ---------------------------------------------------------------------------

# Patterns use both LIKE wildcards; the .wmv/.wma/.mov ones are N/A-gated.
PATTERNS = (
    "news%", "lecture1%", "promo_.rm", "%cert%", "%.rm", "%.ra", "trailer%",
    "%.wmv", "%.wma", "%.mov", "keynote%.wmv", "sermon2_.wma", "match%",
)


@dataclass
class Dims:
    customers: list[tuple[int, str, str]]  # (id, company_name, hosting)
    project: list[tuple[int, int]]  # (project_id, customer_id)
    project_file: list[tuple[int, str]]  # (project_id, pattern)


def report_dims(rng: random.Random, n_customers: int) -> Dims:
    """Every customer has two projects of two patterns each, so requests
    cost about the same; one customer in six has hosting=No and gets an
    empty report."""
    ids = rng.sample(range(1000, 100_000), n_customers)
    customers = [(cid, f"Company {k:03d}", "No" if k % 6 == 5 else "Yes") for k, cid in enumerate(ids)]
    project, project_file, pid = [], [], 1
    for cid, _, _ in customers:
        for _ in range(2):
            project.append((pid, cid))
            project_file.extend((pid, pat) for pat in rng.sample(PATTERNS, 2))
            pid += 1
    return Dims(customers, project, project_file)


def like_to_regex(pattern: str) -> re.Pattern:
    """SQL LIKE (no escape character in use) as an anchored regex."""
    out = []
    for ch in pattern:
        out.append(".*" if ch == "%" else "." if ch == "_" else re.escape(ch))
    return re.compile("".join(out), re.DOTALL)


def duration_hms(s: int | None) -> str | None:
    if s is None:
        return None
    if s >= 3600:
        return f"{s // 3600}:{(s % 3600) // 60:02d}:{s % 60:02d}"
    return f"{s // 60}:{s % 60:02d}"


def round_half_up(q: Fraction) -> int:
    return int((q + Fraction(1, 2)).__floor__())


def report_truth(rows: list[Hit], dims: Dims, customer_id: int) -> dict[tuple, tuple]:
    """Expected report rows for one customer:
    (customer_id, project_id, pattern, company_name) ->
    (n_views, clip_length, avg_view_time, longest_view_time)."""
    cust = [c for c in dims.customers if c[0] == customer_id and c[2] == "Yes"]
    if not cust:
        return {}
    company = cust[0][1]
    visible = [h for h in rows if not h.ip.startswith("192.168.")]
    out = {}
    for pid, cid in dims.project:
        if cid != customer_id:
            continue
        for ppid, pat in dims.project_file:
            if ppid != pid:
                continue
            rx = like_to_regex(pat)
            hits = [h for h in visible if rx.fullmatch(h.name)]
            if not hits:
                continue
            clips = [h.file_time for h in hits if h.file_time]  # NULL and 0 excluded
            sent = [h.sent_time for h in hits
                    if h.sent_time and h.file_time is not None and h.sent_time <= h.file_time]
            if REPORT_GATE_RE.search(pat):
                times = ("N/A", "N/A", "N/A")
            else:
                clip = duration_hms(max(clips)) if clips else None
                avg = duration_hms(round_half_up(Fraction(sum(sent), len(sent)))) if sent else None
                longest = duration_hms(max(sent)) if sent else None
                times = tuple(t or "N/A" for t in (clip, avg, longest))
            out[(customer_id, pid, pat, company)] = (len(hits), *times)
    return out


# ---------------------------------------------------------------------------
# near-duplicate document corpus
# ---------------------------------------------------------------------------


@dataclass
class Corpus:
    docs: list[tuple[int, str]]  # (doc_id, text)
    groups: list[list[int]]  # planted near-dup groups (the boilerplate bucket included)
    singletons: list[int]


def _words(rng: random.Random, vocab: list[str], n: int) -> list[str]:
    return [rng.choice(vocab) for _ in range(n)]


def near_dup_corpus(rng: random.Random, n_singletons: int, n_groups: int,
                    boilerplate: int, doc_words: tuple[int, int] = (120, 200)) -> Corpus:
    """Unrelated singletons, near-duplicate groups of 2-5 and one bucket of
    `boilerplate` identical documents, sized above the LSH `max_bucket` so
    the star-pair path runs.  Each copy differs from its base by one
    substituted word, so its word-3-gram Jaccard to the base is at least
    0.95: with 8 bands of 4 MinHash rows the chance that LSH misses the
    pair is about 1e-6."""
    vocab = [f"w{i}" for i in range(20_000)]
    texts: list[list[str]] = []
    group_slots: list[list[int]] = []
    singleton_slots: list[int] = []
    for _ in range(n_singletons):
        singleton_slots.append(len(texts))
        texts.append(_words(rng, vocab, rng.randrange(*doc_words)))
    for _ in range(n_groups):
        base = _words(rng, vocab, rng.randrange(*doc_words))
        slots = [len(texts)]
        texts.append(base)
        for _ in range(rng.randrange(1, 5)):
            copy = list(base)
            copy[rng.randrange(len(copy))] = rng.choice(vocab)
            slots.append(len(texts))
            texts.append(copy)
        group_slots.append(slots)
    if boilerplate:
        boiler = "this message was sent from the mailing list archive " * 4
        group_slots.append(list(range(len(texts), len(texts) + boilerplate)))
        texts.extend(boiler.split() for _ in range(boilerplate))
    # doc ids in shuffled order, so group members are not adjacent
    ids = rng.sample(range(1, 10 * len(texts)), len(texts))
    docs = [(ids[i], " ".join(t)) for i, t in enumerate(texts)]
    docs.sort()
    return Corpus(
        docs,
        [sorted(ids[s] for s in g) for g in group_slots],
        sorted(ids[s] for s in singleton_slots),
    )


# ---------------------------------------------------------------------------
# file writers (pyarrow only; the program reads these with Spark)
# ---------------------------------------------------------------------------


def write_parquet_parts(path: str, columns: dict[str, list], types: dict[str, str], parts: int) -> int:
    """Write a table as `parts` parquet files under `path`; returns bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    n = len(next(iter(columns.values())))
    schema = pa.schema([(c, getattr(pa, t)()) for c, t in types.items()])
    total = 0
    for p in range(parts):
        lo, hi = n * p // parts, n * (p + 1) // parts
        table = pa.table({c: v[lo:hi] for c, v in columns.items()}, schema=schema)
        f = os.path.join(path, f"part-{p:05d}.parquet")
        pq.write_table(table, f)
        total += os.path.getsize(f)
    return total


def write_dims(root: str, dims: Dims, parts: int) -> dict[str, str]:
    paths = {n: os.path.join(root, n) for n in ("customers", "project", "project_file")}
    write_parquet_parts(paths["customers"], {
        "id": [c[0] for c in dims.customers],
        "company_name": [c[1] for c in dims.customers],
        "hosting": [c[2] for c in dims.customers],
    }, {"id": "int64", "company_name": "string", "hosting": "string"}, parts)
    write_parquet_parts(paths["project"], {
        "project_id": [p[0] for p in dims.project],
        "customer_id": [p[1] for p in dims.project],
    }, {"project_id": "int64", "customer_id": "int64"}, parts)
    write_parquet_parts(paths["project_file"], {
        "project_id": [p[0] for p in dims.project_file],
        "pattern": [p[1] for p in dims.project_file],
    }, {"project_id": "int64", "pattern": "string"}, parts)
    return paths


def write_corpus(path: str, corpus: Corpus, parts: int) -> int:
    return write_parquet_parts(path, {
        "doc_id": [d[0] for d in corpus.docs],
        "text": [d[1] for d in corpus.docs],
    }, {"doc_id": "int64", "text": "string"}, parts)
