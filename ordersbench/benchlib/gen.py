"""Seeded input generators. The engine only ever sees what these write.

* ``live_schedule`` -- the order topic for ``orders_live``: wire-JSON
  records with the wall offset each is due at (open loop).
* ``corpus_tables`` -- ``documents`` + ``embeddings`` for ``corpus_cycle``.

Every knob comes from ``workloads.json``; the same seed gives the same
inputs.
"""
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_MS = 1704067200000  # 2024-01-01T00:00:00Z, the testdata's epoch
PLACED, FULFILLED = "order.placed", "order.fulfilled"
WINDOW_MS = 60_000


def wire_value(event_type, ts_ms, facility, order_id):
    """The reference's wire JSON: dotted member names, not nesting."""
    return json.dumps({"event.type": event_type, "event.timestamp": int(ts_ms),
                       "facility.id": str(facility), "order.id": str(order_id)},
                      separators=(",", ":"))


def _order_delays(rng, n, k):
    """Fulfilled minus placed, in seconds: mostly positive, a share
    negative (fulfilled stamped before placed)."""
    d = rng.uniform(0.0, k["max_delay_s"], n)
    neg = rng.random(n) < k["share_negative"]
    d[neg] = -rng.uniform(0.0, k["max_negative_s"], neg.sum())
    return d


def live_schedule(seed, k, seconds):
    """The order topic: ``warmup_s`` of warm-up traffic (offered in a
    closed loop), ``settle_s + seconds`` of open-loop traffic (the first
    ``settle_s`` unmeasured), then ``burst_s`` more seconds of traffic
    offered as ``bursts`` backlog bursts (the records due at or after
    ``warmup_s + settle_s + seconds``).

    Returns a list of dicts sorted by ``due_s`` (wall offset from the
    generator's start). Event time runs ``compression`` times faster
    than wall time; each record arrives up to ``max_disorder_s``
    event-seconds after its event time, so halves arrive out of order.
    Well-formed records carry ``order_id``/``event_ms``/``type``;
    malformed ones carry ``value`` only."""
    rng = np.random.default_rng(seed)
    comp = float(k["compression"])
    dur = float(k["warmup_s"] + k["settle_s"]) + float(seconds) + float(k["burst_s"])
    span = dur * comp  # event-seconds covered
    n_orders = int(k["rate_eps"] * dur / 2)
    tp = np.sort(rng.uniform(0.0, span, n_orders))
    tf = tp + _order_delays(rng, n_orders, k)
    never = rng.random(n_orders) < k["share_never_completed"]
    drop_placed = rng.random(n_orders) < 0.5
    recs = []
    for i in range(n_orders):
        oid = i + 1
        for typ, et in ((PLACED, tp[i]), (FULFILLED, tf[i])):
            if never[i] and (typ == PLACED) == drop_placed[i]:
                continue
            recs.append((et + rng.uniform(0.0, k["max_disorder_s"]), typ, et, oid))
    out = []
    for arrive, typ, et, oid in recs:
        ms = BASE_MS + int(round(et * 1000))
        out.append({"due_s": arrive / comp, "key": str(oid), "type": typ,
                    "order_id": oid, "event_ms": ms,
                    "value": wire_value(typ, ms, oid % k["facilities"], oid)})
    n_bad = int(len(out) * k["share_malformed"])
    for t in rng.uniform(0.0, span, n_bad):
        out.append({"due_s": t / comp, "key": "bad", "value":
                    '{"event.type": "order.placed", "event.timestamp": '})
    out = [r for r in out if r["due_s"] < dur]
    out.sort(key=lambda r: r["due_s"])
    return out


VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]


def corpus_tables(seed, k):
    """``documents`` and ``embeddings`` shaped like the testdata: a
    31-word vocabulary, 8-100 word documents, 20 sources, five languages,
    with exact copies, near copies (a few words swapped) and spliced
    shared passages so every dedup tier has work; unit-norm 64-d vectors
    around ten labelled centres, a share of them near duplicates."""
    rng = np.random.default_rng(seed)
    n = int(k["documents"])
    vocab = np.array(VOCAB, dtype=object)
    docs = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < k["share_exact_dup"]:
            words = list(docs[rng.integers(0, i)])
        elif i > 0 and r < k["share_exact_dup"] + k["share_near_dup"]:
            words = list(docs[rng.integers(0, i)])
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = vocab[rng.integers(0, len(vocab))]
        else:
            words = list(vocab[rng.integers(0, len(vocab), rng.integers(8, 101))])
            if i > 0 and rng.random() < k["share_spliced"]:
                src = docs[rng.integers(0, i)]
                if len(src) >= 12:
                    a = int(rng.integers(0, len(src) - 11))
                    at = int(rng.integers(0, len(words)))
                    words[at:at] = src[a:a + 12]
        docs.append(words)
    text = [" ".join(w) for w in docs]
    documents = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text, type=pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).astype(object), type=pa.string()),
        "source": pa.array(["src%d" % (i % 20) for i in rng.permutation(n)], type=pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })
    m, dim = int(k["vectors"]), 64
    centres = rng.normal(size=(10, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, 10, m)
    vec = centres[label] + rng.normal(scale=k["vector_spread"], size=(m, dim))
    dup = np.nonzero(rng.random(m) < k["share_vector_dup"])[0]
    dup = dup[dup > 0]
    src = (rng.random(len(dup)) * dup).astype(np.int64)
    vec[dup] = vec[src] + rng.normal(scale=1e-3, size=(len(dup), dim))
    label[dup] = label[src]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    vec = vec.astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(m, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    return documents, embeddings


def write_table(table, path):
    pq.write_table(table, path)
