"""Seeded load generators, kept apart from the system under test.

Nothing here imports Spark: the generators write plain files with pyarrow
and numpy, so producing load never competes with the engine for its JVM
or its task slots.

* ``KafkaTopicWriter`` publishes fake-Kafka files in the exact
  ``KAFKA_RECORD_DDL`` schema that ``ksml_spark.sources.kafka`` reads from a
  ``fake_dir``. Each file is written under a dot-name and renamed into
  place, so the streaming file source never lists a half-written file.
* ``OpenLoopProducer`` appends one file per tick on a fixed schedule that
  does not slow down when the engine does, and records how late each tick
  was published.
* ``make_corpus`` builds a document table with planted exact- and
  near-duplicate groups and returns the ground truth it planted.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# mirrors ksml_spark.sources.kafka.KAFKA_RECORD_DDL column for column
KAFKA_SCHEMA = pa.schema([
    ("key", pa.binary()),
    ("value", pa.binary()),
    ("topic", pa.string()),
    ("partition", pa.int32()),
    ("offset", pa.int64()),
    ("timestamp", pa.timestamp("us", tz="UTC")),
    ("timestampType", pa.int32()),
])

PARTITIONS = 4
LATE_LIMIT_S = 0.5  # a tick published later than this invalidates its events


def zipf_sampler(rng: np.random.Generator, n: int, s: float):
    """Return draw(k) -> k ranks in [0, n) with P(r) proportional to
    1 / (r + 1) ** s: a bounded zipf, so every rank is a valid key."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w)
    cdf /= cdf[-1]

    def draw(k: int) -> np.ndarray:
        return np.minimum(np.searchsorted(cdf, rng.random(k)), n - 1)

    return draw


class KafkaTopicWriter:
    """Writes record batches of one topic into a fake-Kafka directory.

    Offsets are dense per partition across every file this writer
    publishes, as a broker assigns them."""

    def __init__(self, fake_dir: str, topic: str):
        self.fake_dir = fake_dir
        self.topic = topic
        self._next_offset = [0] * PARTITIONS
        self._files = 0
        self._partition: dict = {}  # key -> partition, keys repeat
        os.makedirs(fake_dir, exist_ok=True)

    def publish(self, keys: list, values: list, created_s: np.ndarray) -> str:
        """Write one file; ``created_s`` (epoch seconds) goes into the
        record ``timestamp``. Returns the published path."""
        part_of = self._partition
        for k in set(keys).difference(part_of):
            part_of[k] = hash_partition(k.encode())
        parts = np.fromiter((part_of[k] for k in keys), dtype=np.int32, count=len(keys))
        offsets = np.empty(len(keys), dtype=np.int64)
        for p in range(PARTITIONS):
            idx = np.flatnonzero(parts == p)
            offsets[idx] = self._next_offset[p] + np.arange(len(idx))
            self._next_offset[p] += len(idx)
        n = len(keys)
        table = pa.table({
            "key": pa.array(keys, pa.string()).cast(pa.binary()),
            "value": pa.array(values, pa.string()).cast(pa.binary()),
            "topic": pa.array([self.topic] * n, pa.string()),
            "partition": pa.array(parts, pa.int32()),
            "offset": pa.array(offsets, pa.int64()),
            "timestamp": pa.array((created_s * 1e6).astype(np.int64),
                                  pa.timestamp("us", tz="UTC")),
            "timestampType": pa.array(np.zeros(n, np.int32), pa.int32()),
        }, schema=KAFKA_SCHEMA)
        name = f"part-{self.topic}-{self._files:06d}.parquet"
        self._files += 1
        final = os.path.join(self.fake_dir, name)
        tmp = os.path.join(self.fake_dir, "." + name + ".tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, final)
        return final


def hash_partition(key: bytes) -> int:
    """Stable key -> partition (Python's hash() is salted per process)."""
    h = 0
    for b in key:
        h = (h * 31 + b) & 0xFFFFFFFF
    return h % PARTITIONS


@dataclass
class EventLog:
    """Everything a producer published, for the output checks."""

    keys: list = field(default_factory=list)
    seqs: list = field(default_factory=list)
    event_ms: list = field(default_factory=list)
    created_s: list = field(default_factory=list)
    files: dict = field(default_factory=dict)  # file name -> (first, count)

    def record(self, path: str, keys, seqs, event_ms, created_s) -> None:
        self.files[os.path.basename(path)] = (len(self.keys), len(keys))
        self.keys.extend(keys)
        self.seqs.extend(seqs)
        self.event_ms.extend(event_ms)
        self.created_s.extend(created_s)


class EventSource:
    """Seeded event stream: zipf keys, a sequence number and an event time.

    A fixed share of events carries an event time up to ``disorder_s``
    before its creation time: out of order, but inside the watermark."""

    def __init__(self, seed: int, n_keys: int, zipf_s: float,
                 disorder_share: float = 0.0, disorder_s: float = 0.0,
                 key_prefix: str = "u"):
        self.rng = np.random.default_rng(seed)
        self.draw = zipf_sampler(self.rng, n_keys, zipf_s)
        self.disorder_share = disorder_share
        self.disorder_s = disorder_s
        self.names = np.array([f"{key_prefix}{r:06d}" for r in range(n_keys)], dtype=object)
        self.seq = 0

    def batch(self, created_s: np.ndarray):
        n = len(created_s)
        keys = self.names[self.draw(n)].tolist()
        seqs = list(range(self.seq, self.seq + n))
        self.seq += n
        shift = np.where(self.rng.random(n) < self.disorder_share,
                         self.rng.random(n) * self.disorder_s, 0.0)
        event_ms = np.floor((created_s - shift) * 1000).astype(np.int64).tolist()
        values = [f'{{"ts":{t},"seq":{s}}}' for t, s in zip(event_ms, seqs)]
        return keys, seqs, event_ms, values


def write_backlog(writer: KafkaTopicWriter, source: EventSource, log: EventLog,
                  n_events: int, n_files: int, start_s: float, rate: float) -> None:
    """Pre-write ``n_events`` events as ``n_files`` files, stamped as if
    produced at ``rate`` events/s from ``start_s``."""
    per = n_events // n_files
    for i in range(n_files):
        created = start_s + (i * per + np.arange(per)) / rate
        keys, seqs, ev, vals = source.batch(created)
        path = writer.publish(keys, vals, created)
        log.record(path, keys, seqs, ev, created.tolist())


class OpenLoopProducer(threading.Thread):
    """Publishes ``rate`` events/s as one file per ``tick_s`` on a fixed
    schedule. Each event is stamped with the instant it was due, so a
    stall in publishing shows up in event latency, and the publish delay
    of every tick is kept in ``late_s``."""

    def __init__(self, writer: KafkaTopicWriter, source: EventSource,
                 rate: float, tick_s: float, seconds: float):
        super().__init__(name="open-loop-producer", daemon=True)
        self.writer, self.source = writer, source
        self.rate, self.tick_s, self.seconds = rate, tick_s, seconds
        self.log = EventLog()
        self.late_s: list[float] = []
        self.error: BaseException | None = None

    def late_max_ms(self) -> float:
        return max(self.late_s, default=0.0) * 1000.0

    def late_events(self, limit_s: float) -> int:
        """Events in ticks published more than ``limit_s`` after they were
        due: the load was not offered as scheduled, so they count as
        failed."""
        per_tick = int(round(self.rate * self.tick_s))
        return per_tick * sum(1 for x in self.late_s if x > limit_s)

    def run(self) -> None:
        try:
            self._run()
        except BaseException as e:  # surfaced by the caller after join()
            self.error = e

    def _run(self) -> None:
        per_tick = int(round(self.rate * self.tick_s))
        ticks = int(round(self.seconds / self.tick_s))
        t0 = time.time()
        for i in range(ticks):
            due_end = t0 + (i + 1) * self.tick_s
            delay = due_end - time.time()
            if delay > 0:
                time.sleep(delay)
            created = t0 + i * self.tick_s + np.arange(per_tick) / self.rate
            keys, seqs, ev, vals = self.source.batch(created)
            path = self.writer.publish(keys, vals, created)
            self.late_s.append(max(0.0, time.time() - due_end))
            self.log.record(path, keys, seqs, ev, created.tolist())


# ---------------------------------------------------------------------------
# corpus

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "with"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "ich"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "que", "pour"],
    "es": ["el", "la", "los", "que", "de", "un", "una", "es", "por", "con"],
}
BOILERPLATE = ("subscribe to our newsletter for weekly updates cookie policy "
               "terms of service all rights reserved")
_ALPHA = np.array(list("abcdefghijklmnopqrstuvwxyz"))

VOCAB = 50_000  # distinct tokens
VOCAB_ZIPF_S = 1.05
DOC_TOKENS = (120, 220)  # tokens per fresh document, [low, high)
EXACT_SHARE = 0.06  # share of documents that are exact copies
NEAR_SHARE = 0.06  # share of documents that are near copies
LOW_SHARE = 0.05  # share of documents built to fail the quality gate
BOILERPLATE_SHARE = 0.2  # share of fresh documents ending in BOILERPLATE
NEAR_EDIT = 0.03  # share of tokens a near copy replaces


@dataclass
class Corpus:
    """Generated documents plus the ground truth planted in them."""

    doc_id: np.ndarray
    lang: list
    text: list
    low_quality: set  # doc ids built to fail the quality gate
    exact_groups: list  # lists of doc ids whose normalized text is equal
    near_groups: list  # lists of doc ids planted as near-duplicates

    def table(self) -> pa.Table:
        return pa.table({
            "doc_id": pa.array(self.doc_id, pa.int64()),
            "lang": pa.array(self.lang, pa.string()),
            "text": pa.array(self.text, pa.string()),
        })


def _vocabulary(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct lowercase tokens of 4-9 letters, none a stopword."""
    stop = {w for ws in STOPWORDS.values() for w in ws}
    out: set = set()
    while len(out) < n:
        k = n - len(out)
        lens = rng.integers(4, 10, size=k)
        letters = rng.choice(_ALPHA, size=(k, 9))
        for row, ln in zip(letters, lens):
            w = "".join(row[:ln])
            if w not in stop:
                out.add(w)
    return np.array(sorted(out))


def make_corpus(seed: int, n_docs: int) -> Corpus:
    """A seeded corpus of ``n_docs`` documents over a zipf vocabulary of
    ``VOCAB`` tokens.

    * exact-duplicate groups: copies that differ from their original only
      in case and punctuation, so they share its normalized text;
    * near-duplicate groups: copies with a ``NEAR_EDIT`` share of tokens
      replaced (token-set Jaccard with the original stays above 0.85);
    * low-quality documents: short runs of punctuation and 1-2 letter
      tokens, built to fail the quality gate;
    * a boilerplate run appended to a share of documents."""
    rng = np.random.default_rng(seed)
    words = _vocabulary(rng, VOCAB)
    draw = zipf_sampler(rng, VOCAB, VOCAB_ZIPF_S)
    langs = list(STOPWORDS)
    docs_lang, docs_text = [], []
    low, exact_groups, near_groups = set(), [], []

    stop_arr = {lang: np.array(ws) for lang, ws in STOPWORDS.items()}

    def fresh_tokens(lang: str) -> list:
        n = int(rng.integers(*DOC_TOKENS))
        toks = words[draw(n)]
        # ~30% stopwords of the document's language: passes the gate
        mask = rng.random(n) < 0.3
        toks[mask] = stop_arr[lang][rng.integers(10, size=int(mask.sum()))]
        return toks.tolist()

    def add(lang: str, text: str) -> int:
        docs_lang.append(lang)
        docs_text.append(text)
        return len(docs_text) - 1

    n_exact = int(n_docs * EXACT_SHARE)
    n_near = int(n_docs * NEAR_SHARE)
    n_low = int(n_docs * LOW_SHARE)
    n_plain = n_docs - n_exact - n_near - n_low
    originals = []
    for _ in range(n_plain):
        lang = langs[int(rng.integers(len(langs)))]
        toks = fresh_tokens(lang)
        if rng.random() < BOILERPLATE_SHARE:
            toks += BOILERPLATE.split()
        originals.append(add(lang, " ".join(toks)))

    # planted groups copy distinct originals, 1-3 copies each
    pool = rng.permutation(len(originals))
    pi = 0
    made = 0
    while made < n_exact:
        src = originals[pool[pi]]
        pi += 1
        group = [src]
        for _ in range(min(int(rng.integers(1, 4)), n_exact - made)):
            toks = docs_text[src].split(" ")
            j = int(rng.integers(len(toks)))
            toks[j] = toks[j].upper() + ","
            group.append(add(docs_lang[src], " ".join(toks) + "."))
            made += 1
        exact_groups.append(group)
    made = 0
    while made < n_near:
        src = originals[pool[pi]]
        pi += 1
        group = [src]
        for _ in range(min(int(rng.integers(1, 4)), n_near - made)):
            toks = docs_text[src].split(" ")
            for j in rng.choice(len(toks), max(1, int(len(toks) * NEAR_EDIT)),
                                replace=False):
                toks[j] = words[int(rng.integers(VOCAB))]
            group.append(add(docs_lang[src], " ".join(toks)))
            made += 1
        near_groups.append(group)
    for _ in range(n_low):
        n = int(rng.integers(8, 20))
        letters = rng.choice(_ALPHA, size=(n, 2))
        marks = rng.choice(np.array(list("!?")), size=n)
        toks = [a + (b if k else "") + m for a, b, k, m
                in zip(letters[:, 0], letters[:, 1], rng.random(n) < 0.5, marks)]
        low.add(add(langs[int(rng.integers(len(langs)))], " ".join(toks)))

    # shuffle ids so planted copies are not adjacent to their originals
    ids = rng.permutation(n_docs)  # position -> doc id
    order = np.argsort(ids)
    remap = {old: int(ids[old]) for old in range(n_docs)}
    return Corpus(
        doc_id=ids[order].astype(np.int64),
        lang=[docs_lang[i] for i in order],
        text=[docs_text[i] for i in order],
        low_quality={remap[i] for i in low},
        exact_groups=[[remap[i] for i in g] for g in exact_groups],
        near_groups=[[remap[i] for i in g] for g in near_groups],
    )
