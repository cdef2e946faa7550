"""Seeded input generators. The same seed gives byte-identical inputs.

events: graft-replay TSV segments (ReplaySource row format v2) with an
at-least-once redelivery share of duplicate event_ids and out-of-order
event-time jitter, both inside the watermark delay, so nothing is dropped
and every event_id must reach the sink exactly once.

documents: a documents.parquet in the fixture schema over a Zipf
vocabulary, with planted near-dup clusters of skewed sizes whose per-copy
edits straddle Jaccard 0.9.
"""
import bisect
import os
import random

BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENT_TYPES = ("click", "purchase", "error", "signup", "view")

# events: share of redelivered rows, seconds of event time per segment,
# +- jitter in seconds, how many segments back a redelivery reaches, users.
DUP_SHARE, SPAN_S, JITTER_S, REDELIVER_SEGMENTS, USERS = 0.1, 60, 60, 3, 5000

# documents: background docs, planted clusters, copies in the biggest
# cluster, vocabulary size and its Zipf exponent.
N_BACKGROUND, N_CLUSTERS, TOP_CLUSTER, VOCAB, ZIPF_S = 400, 30, 100, 20000, 1.1


def _rng(seed, stream):
    return random.Random(f"{seed}:{stream}")


# ------------------------------------------------------------------ events

def events(seed, stream, n_segments, rows_per_segment):
    """Segments of (event_id, ts_us, user_id, event_type, value) rows.

    Segment i holds fresh events with event time in segment i's span
    (SPAN_S seconds), jittered by up to JITTER_S either way, plus
    DUP_SHARE redelivered copies of events first sent in segments
    i-REDELIVER_SEGMENTS..i. A watermark delay above
    (REDELIVER_SEGMENTS + 1) * SPAN_S + 2 * JITTER_S therefore drops
    nothing, while state older than two delays is evicted.
    Returns (segments, owner) where owner[i] lists the event_ids first
    sent in segment i.
    """
    rng = _rng(seed, stream)
    n_dup = int(round(rows_per_segment * DUP_SHARE))
    n_new = rows_per_segment - n_dup
    next_id = (seed % 1_000_000) * 1_000_000_000 + 1
    segments, owner, recent = [], [], []
    for i in range(n_segments):
        fresh = []
        for _ in range(n_new):
            ts = (BASE_TS_US + i * SPAN_S * 1_000_000
                  + rng.randrange(SPAN_S * 1_000_000)
                  + rng.randrange(-JITTER_S * 1_000_000, JITTER_S * 1_000_000 + 1))
            fresh.append((next_id, ts, rng.randrange(1, USERS + 1),
                          EVENT_TYPES[rng.randrange(len(EVENT_TYPES))],
                          rng.randrange(100_000) / 100.0))
            next_id += 1
        recent = recent[-REDELIVER_SEGMENTS:] + [fresh]
        pool = [e for seg in recent for e in seg]
        rows = fresh + [pool[rng.randrange(len(pool))] for _ in range(n_dup)]
        rng.shuffle(rows)
        segments.append(rows)
        owner.append([e[0] for e in fresh])
    return segments, owner


def tsv_line(row):
    eid, ts, uid, etype, value = row
    return f"{eid}\t{ts}\t{uid}\t{etype}\t{value!r}\t\\N\n"


def write_segments(segments, out_dir):
    """Write segment-NNNNNN.tsv files (the graft-replay log naming)."""
    os.makedirs(out_dir, exist_ok=True)
    for i, rows in enumerate(segments):
        with open(os.path.join(out_dir, f"segment-{i:06d}.tsv"), "w") as f:
            f.writelines(tsv_line(r) for r in rows)


# --------------------------------------------------------------- documents

def _word(i):
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(97 + r) + s
    return s


class Zipf:
    def __init__(self, n, s, rng):
        self.rng = rng
        acc, self.cum = 0.0, []
        for r in range(1, n + 1):
            acc += 1.0 / r ** s
            self.cum.append(acc)
        # Rank -> word through a seeded permutation, so frequent words are
        # not simply the shortest strings.
        self.words = [_word(i) for i in range(n)]
        rng.shuffle(self.words)

    def draw(self):
        return self.words[bisect.bisect_left(self.cum, self.rng.random() * self.cum[-1])]


def documents(seed):
    """Rows (doc_id, text, lang, source, n_chars) with doc_id < 100000.

    Cluster c (rank c = 1, 2, ...) has max(2, TOP_CLUSTER / c**1.1) copies
    of one base text; each copy replaces 0-3 token positions, so a copy's
    token-set Jaccard with its base falls on either side of 0.9 depending
    on the base length (10-100 tokens). The big clusters make the hot LSH
    band buckets that boilerplate makes in real crawls. A cluster's base
    length is fixed by its rank, not drawn, so the amount of near-dup work
    is the same for every seed.
    """
    rng = _rng(seed, "documents")
    z = Zipf(VOCAB, ZIPF_S, rng)
    texts = [[z.draw() for _ in range(rng.randint(10, 100))] for _ in range(N_BACKGROUND)]
    for c in range(1, N_CLUSTERS + 1):
        base = [z.draw() for _ in range(10 + (c * 37) % 91)]
        for _ in range(max(2, int(TOP_CLUSTER / c ** 1.1))):
            copy = list(base)
            for _ in range(rng.choice((0, 0, 1, 1, 2, 3))):
                copy[rng.randrange(len(copy))] = z.draw()
            texts.append(copy)
    rng.shuffle(texts)
    rows = []
    for doc_id, toks in enumerate(texts):
        text = " ".join(toks)
        rows.append((doc_id, text, ("en", "de", "fr", "zh", "es")[rng.randrange(5)],
                     f"src{rng.randrange(10)}", len(text)))
    assert len(rows) < 100000
    return rows


def write_documents(rows, path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    cols = list(zip(*rows))
    table = pa.table({
        "doc_id": pa.array(cols[0], pa.int64()),
        "text": pa.array(cols[1], pa.string()),
        "lang": pa.array(cols[2], pa.string()),
        "source": pa.array(cols[3], pa.string()),
        "n_chars": pa.array(cols[4], pa.int64()),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
