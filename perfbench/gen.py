"""Seeded input generators for the benchmark workloads.

Everything the program reads is made here from ``--seed`` before any
timed window starts: the same seed gives byte-identical files. Each
generator also returns the totals the correctness checks compare
against, computed from the generated values themselves (never by the
program under test).

Files that a workload later "lands" are written to a staging directory
first; the workload moves them into the landing zone with
``os.replace``, an atomic rename on one filesystem, so a reader listing
the landing zone never sees a partial file.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Token vocabulary of the corpus text (same shape as the synthetic
# ``documents`` testdata table: short engine words, 10-99 per doc).
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big stream group filter vector"
).split()
LANGS = np.array(["en", "en", "en", "zh", "es", "de", "fr"])
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])


@dataclass(frozen=True)
class Sizes:
    """Input sizes of one run; ``full`` is what the benchmark measures,
    ``tiny`` only exists so the smoke tests finish quickly."""

    docs: int
    vecs: int
    dim: int
    day_events: int
    day_users: int
    day_videos: int
    feed_events_per_file: int
    feed_docs_per_file: int


SIZES = {
    "full": Sizes(
        docs=5000, vecs=2000, dim=64, day_events=10_000, day_users=300,
        day_videos=60, feed_events_per_file=2000, feed_docs_per_file=200,
    ),
    "tiny": Sizes(
        docs=200, vecs=200, dim=64, day_events=500, day_users=40,
        day_videos=10, feed_events_per_file=200, feed_docs_per_file=20,
    ),
}


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per purpose, so adding draws to one input
    never shifts another."""
    return np.random.default_rng([seed, sum(stream.encode())])


def _stamps(start: datetime, secs: np.ndarray) -> list[str]:
    """``start + secs`` as ``YYYY-MM-DD HH:MM:SS`` strings."""
    t = np.datetime64(start, "s") + secs.astype("timedelta64[s]")
    return [x.replace("T", " ") for x in np.datetime_as_string(t, unit="s").tolist()]


def _write_atomic(path: str, text: str) -> None:
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def _doc_texts(rng: np.random.Generator, n: int, dup_share: float) -> tuple[list[str], int]:
    """``n`` corpus texts. Exactly ``dup_share * n`` of them are copies
    of an earlier original: most are near-copies (``<original> dup``),
    one in thirty an exact copy. Copies never copy a copy and an
    original has at most three copies, so every cluster is an original
    and its copies (at most four docs, as in the sf0.1 corpus) and its
    diameter, with it the number of connected-components rounds, does
    not vary with the seed. Returns (texts, planted_count)."""
    dups = set(rng.choice(np.arange(11, n), int(dup_share * n), replace=False).tolist())
    texts: list[str] = []
    originals: list[str] = []
    copies: list[int] = []
    for i in range(n):
        if i in dups:
            j = int(rng.integers(0, len(originals)))
            while copies[j] == 3:
                j = int(rng.integers(0, len(originals)))
            copies[j] += 1
            exact = rng.random() < 1 / 30
            texts.append(originals[j] if exact else originals[j] + " dup")
            continue
        k = int(rng.integers(10, 101))
        originals.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
        copies.append(0)
        texts.append(originals[-1])
    return texts, len(dups)


# ---------------------------------------------------------------------------
# curation: documents + embeddings parquet tables
# ---------------------------------------------------------------------------
def curation_tables(out_dir: str, seed: int, sizes: Sizes) -> dict[str, int]:
    """Write ``documents.parquet`` and ``embeddings.parquet`` with the
    testdata schemas the curation queries read, shaped like the sf0.1
    tables: 10-100 words per doc, ~5% of docs a copy of another (sf0.1:
    244 copies in 233 clusters of 2-4 docs), 20 sources; unit-norm
    isotropic 64-d vectors (sf0.1: ~920 pairs at cosine >= 0.4 per 2000
    vectors, none at >= 0.9) with a uniform 0-9 label. Returns row
    counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, "documents")
    texts, _ = _doc_texts(rng, sizes.docs, dup_share=0.049)
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(sizes.docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, sizes.docs), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(sizes.docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    rng = _rng(seed, "embeddings")
    n, dim = sizes.vecs, sizes.dim
    vecs = rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32), pa.int32()),
        }
    )
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {"documents": sizes.docs, "embeddings": n}


# ---------------------------------------------------------------------------
# ingest: StreamPro daily landing files
# ---------------------------------------------------------------------------
@dataclass
class Day:
    """One ingestion date's staged files and the generator's totals."""

    date: str
    files: list[str]  # staged paths, moved into landing/ when the job starts
    rows: dict[str, int]  # rows per table, keyed by registry suffix
    value_tenths: int  # sum of events.value, in tenths (exact)
    landing_bytes: int


_TIERS = np.array(["Free", "Basic", "Premium"])
_AGES = np.array(["18-25", "26-35", "36-50", "50+"])
_GENRES = np.array(["Action", "Comedy", "Documentary", "Drama"])
_DEVICES = [
    ("mobile", "iOS", "iPhone X", "14.6"),
    ("mobile", "Android", "Galaxy S20", "11.0"),
    ("mobile", "Android", "Pixel 5", "12.0"),
    ("tablet", "iOS", "iPad Pro", "13.1"),
    ("tablet", "Android", "Samsung Tab", "10.0"),
]
_EVENT_NAMES = np.array(["watch_time", "watch_time", "play", "pause", "seek"])
_NETS = np.array(["wifi", "cellular", "5g"])
_COUNTRIES = np.array(["US", "BR", "DE", "IN", "JP", "FR"])
_VERSIONS = np.array(["2.0.1", "2.1.0", "2.2.3"])


def ingest_days(stage_dir: str, seed: int, sizes: Sizes, n_days: int) -> list[Day]:
    """Stage ``n_days`` consecutive dates of users/videos/devices CSV and
    events JSONL, named ``<table>_<YYYY-MM-DD>.<ext>`` as the landing
    contract requires."""
    rng = _rng(seed, "ingest")
    start = date(2025, 1, 1) + timedelta(days=int(rng.integers(0, 200)))
    days = []
    for d in range(n_days):
        day = (start + timedelta(days=d)).isoformat()
        ddir = os.path.join(stage_dir, day)
        os.makedirs(ddir, exist_ok=True)
        nu, nv, ne = sizes.day_users, sizes.day_videos, sizes.day_events

        users = ["user_id,signup_date,subscription_tier,age_group,gender"]
        signup = rng.integers(0, 180, nu)
        tiers, ages = rng.choice(_TIERS, nu), rng.choice(_AGES, nu)
        genders = rng.choice(np.array(["Male", "Female"]), nu)
        for i in range(nu):
            sd = (date(2024, 9, 1) + timedelta(days=int(signup[i]))).isoformat()
            users.append(f"user_{i + 1},{sd},{tiers[i]},{ages[i]},{genders[i]}")

        videos = ["video_id,title,genre,duration_seconds,patent_id"]
        genres, durs = rng.choice(_GENRES, nv), rng.integers(60, 3600, nv)
        for i in range(nv):
            videos.append(
                f"video_{i + 1},Video Title {i + 1},{genres[i]},{durs[i]},patent_{i % 4 + 1}"
            )

        devices = ["device,os,model,os_version"]
        devices += [",".join(r) for r in _DEVICES]

        u = rng.integers(1, nu + 1, ne)
        v = rng.integers(1, nv + 1, ne)
        secs = np.sort(rng.integers(0, 86_400, ne))
        tenths = rng.integers(0, 100, ne)
        dev = rng.integers(0, len(_DEVICES), ne)
        names = rng.choice(_EVENT_NAMES, ne)
        nets, ctry = rng.choice(_NETS, ne), rng.choice(_COUNTRIES, ne)
        vers = rng.choice(_VERSIONS, ne)
        ips = rng.integers(1, 255, (ne, 2))
        sess = rng.integers(0, 5, ne)
        stamps = _stamps(datetime.fromisoformat(day), secs)
        events = [
            f'{{"timestamp": "{ts}", "account_id": "acct_{ui % 97}", '
            f'"video_id": "video_{vi}", "user_id": "user_{ui}", '
            f'"event_name": "{name}", "value": {t // 10}.{t % 10}, '
            f'"device": "{_DEVICES[di][0]}", "app_version": "{ver}", '
            f'"device_os": "{_DEVICES[di][1]}", "network_type": "{net}", '
            f'"ip": "10.0.{ip0}.{ip1}", "country": "{c}", '
            f'"session_id": "user_{ui}_sess_{d}_{ss}"}}'
            for ts, ui, vi, name, t, di, ver, net, (ip0, ip1), c, ss in zip(
                stamps, u.tolist(), v.tolist(), names.tolist(), tenths.tolist(),
                dev.tolist(), vers.tolist(), nets.tolist(), ips.tolist(), ctry.tolist(),
                sess.tolist(),
            )
        ]
        contents = {
            f"users_{day}.csv": "\n".join(users) + "\n",
            f"videos_{day}.csv": "\n".join(videos) + "\n",
            f"devices_{day}.csv": "\n".join(devices) + "\n",
            f"events_{day}.jsonl": "\n".join(events) + "\n",
        }
        files = []
        for name, text in contents.items():
            path = os.path.join(ddir, name)
            _write_atomic(path, text)
            files.append(path)
        days.append(
            Day(
                date=day,
                files=files,
                rows={"users": nu, "videos": nv, "devices": len(_DEVICES), "events": ne},
                value_tenths=int(tenths.sum()),
                landing_bytes=sum(os.path.getsize(p) for p in files),
            )
        )
    return days


# ---------------------------------------------------------------------------
# feed: event and document JSONL files for the streaming sources
# ---------------------------------------------------------------------------
_WS = re.compile(r"[ \t\n\r\f\x0B]+")


def fingerprint_key(text: str) -> str:
    """The dedup stream's notion of "same document": lower-cased text
    with whitespace runs collapsed to one space (it md5s this)."""
    return _WS.sub(" ", text).lower()


@dataclass
class FeedFiles:
    events: list[str]  # staged events files, in landing order
    docs: list[str]  # staged docs files, in landing order
    event_rows: list[int]
    doc_rows: list[int]
    doc_ids: list[list[int]]  # doc ids per docs file
    planted: list[int]  # planted duplicate count per docs file
    texts: dict[int, str] = field(default_factory=dict)  # doc_id -> text


def feed_files(stage_dir: str, seed: int, sizes: Sizes, n_files: int) -> FeedFiles:
    """Stage ``n_files`` events files and ``n_files`` docs files.

    Events: file ``i`` covers event time ``[T0 + 20i min, T0 + 20(i+1) min)``
    in shuffled order, so no event is ever behind the 2-hour watermark
    and every landed row must reach the windowed counts.

    Docs: one in five is a planted duplicate of an earlier document's
    text (sometimes re-cased or re-spaced, which the fingerprint
    normalizes away). Duplicates always have a higher doc_id than their
    original and never land before it, so the expected dedup output is
    the lowest doc_id of each distinct fingerprint."""
    rng = _rng(seed, "feed")
    os.makedirs(stage_dir, exist_ok=True)
    t0 = datetime(2024, 3, 1) + timedelta(hours=int(rng.integers(0, 24 * 30)))
    out = FeedFiles([], [], [], [], [], [])
    next_event, next_doc = 0, 0
    texts: list[str] = []
    for i in range(n_files):
        n = sizes.feed_events_per_file
        secs = rng.permutation(rng.integers(0, 1200, n))
        uid = rng.integers(0, 500, n)
        et = rng.choice(EVENT_TYPES, n)
        cents = rng.integers(1, 50_000, n)
        k = rng.integers(0, 100, n)
        stamps = _stamps(t0 + timedelta(minutes=20 * i), secs)
        lines = []
        for j in range(n):
            ts = stamps[j]
            lines.append(
                f'{{"event_id": {next_event + j}, "ts": "{ts}", "user_id": {uid[j]}, '
                f'"event_type": "{et[j]}", "value": {cents[j] // 100}.{cents[j] % 100:02d}, '
                f'"props": "{{\\"k\\": {k[j]}}}"}}'
            )
        next_event += n
        path = os.path.join(stage_dir, f"events_{i:05d}.jsonl")
        _write_atomic(path, "\n".join(lines) + "\n")
        out.events.append(path)
        out.event_rows.append(n)

        n = sizes.feed_docs_per_file
        ids, lines, planted = [], [], 0
        for j in range(n):
            doc_id = next_doc + j
            if texts and rng.random() < 0.2:
                src = texts[int(rng.integers(0, len(texts)))]
                variant = int(rng.integers(0, 3))
                text = src if variant == 0 else src.upper() if variant == 1 else src.replace(" ", "  ", 2)
                planted += 1
            else:
                k_words = int(rng.integers(8, 40))
                text = f"doc{doc_id} " + " ".join(
                    VOCAB[w] for w in rng.integers(0, len(VOCAB), k_words)
                )
                texts.append(text)
            out.texts[doc_id] = text
            ids.append(doc_id)
            lines.append(f'{{"doc_id": {doc_id}, "text": "{text}"}}')
        next_doc += n
        path = os.path.join(stage_dir, f"docs_{i:05d}.jsonl")
        _write_atomic(path, "\n".join(lines) + "\n")
        out.docs.append(path)
        out.doc_rows.append(n)
        out.doc_ids.append(ids)
        out.planted.append(planted)
    return out


def expected_first_seen(feed: FeedFiles, landed_docs: int) -> set[int]:
    """Doc ids the dedup sink must hold once the first ``landed_docs``
    docs files have been drained: the lowest doc_id per fingerprint."""
    seen: set[str] = set()
    keep: set[int] = set()
    for ids in feed.doc_ids[:landed_docs]:
        for doc_id in ids:
            key = fingerprint_key(feed.texts[doc_id])
            if key not in seen:
                seen.add(key)
                keep.add(doc_id)
    return keep
