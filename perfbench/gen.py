"""Seeded input generators, one per workload.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and a size preset, writes its files under ``root`` and returns
``(props, truth)``: ``props`` are the input properties printed next to
the seed (shares, diameter, and ``rows``, the input row count behind
``rows_per_s``), ``truth`` is whatever the output checks need that is
cheaper to keep than to recompute.
"""

from __future__ import annotations

import datetime as dt
import os
import struct

import numpy as np

from tfrecord_io import crc32c_masked

# ---------------------------------------------------------------------------
# rsna_etl: an RSNA-shaped labels CSV
# ---------------------------------------------------------------------------

POSITIVE_SHARE = 0.22
INVALID_BOX_SHARE = 0.05


def rsna_labels(root: str, rng: np.random.Generator, n_patients: int):
    """``patientId,x,y,width,height,Target`` with string coordinates.

    22% of patients are positive, with 1, 2, 3 or 4 boxes in equal
    numbers (shuffled), so the augmented row count does not depend on the
    seed. 5% of the boxes lie below the 1024-pixel frame (``y >= 1250``)
    so every augmented copy of them fails the validity filter. Valid boxes
    sit inside ``[100, 800]`` on both axes, so no augmentation moves them
    out."""
    n_pos = int(round(n_patients * POSITIVE_SHARE))
    ids = [
        "%08x-%04x-%04x-%04x-%012x" % tuple(int(v) for v in row)
        for row in np.column_stack([
            rng.integers(0, 1 << 32, n_patients),
            rng.integers(0, 1 << 16, (n_patients, 3)),
            rng.integers(0, 1 << 48, n_patients),
        ])
    ]
    if len(set(ids)) != n_patients:  # pragma: no cover - 2^128 space
        raise RuntimeError("patient id collision")
    box_counts = rng.permutation(np.arange(n_pos) % 4 + 1)
    total_boxes = int(box_counts.sum())
    invalid = set(rng.choice(total_boxes, int(round(total_boxes * INVALID_BOX_SHARE)),
                             replace=False).tolist())
    rows: list[tuple] = []
    valid_boxes = {}
    box_i = 0
    for p, pid in enumerate(ids):
        if p >= n_pos:
            rows.append((pid, "", "", "", "", "0"))
            continue
        valid_boxes[pid] = 0
        for _ in range(int(box_counts[p])):
            w, h = (int(v) for v in rng.integers(20, 151, 2))
            x = int(rng.integers(100, 801 - w))
            if box_i in invalid:
                y = int(rng.integers(1250, 1501))
            else:
                y = int(rng.integers(100, 801 - h))
                valid_boxes[pid] += 1
            box_i += 1
            rows.append((pid, f"{x}.0", f"{y}.0", f"{w}.0", f"{h}.0", "1"))
    order = rng.permutation(len(rows))
    path = os.path.join(root, "stage_2_train_labels.csv")
    with open(path, "w") as f:
        f.write("patientId,x,y,width,height,Target\n")
        for i in order:
            f.write(",".join(rows[i]) + "\n")
    props = {
        "rows": len(rows),
        "patients": n_patients,
        "positive_share": round(n_pos / n_patients, 4),
        "boxes": total_boxes,
        "invalid_box_share": round(len(invalid) / max(total_boxes, 1), 4),
    }
    truth = {
        "csv": path,
        "patients": ids,
        "valid_boxes": valid_boxes,
        "n_invalid": len(invalid),
    }
    return props, truth


# ---------------------------------------------------------------------------
# curation: a text corpus as TFRecord shards + an embeddings parquet
# ---------------------------------------------------------------------------

EXACT_DUP_SHARE = 0.10  # base docs with doc_id % 10 == 0 get a verbatim copy
NEAR_DUP_SHARE = 0.10  # base docs with doc_id % 10 == 5 get a first-word-drop copy


def _pb_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _pb_field(num: int, payload: bytes) -> bytes:
    return _pb_varint(num << 3 | 2) + _pb_varint(len(payload)) + payload


def _example(doc_id: int, text: str) -> bytes:
    """A ``tf.train.Example`` with ``doc_id`` (int64) and ``text`` (bytes),
    encoded by hand so the generator does not share code with the sink."""
    int_list = _pb_field(1, _pb_varint(doc_id))  # Int64List, packed
    bytes_list = _pb_field(1, text.encode())  # BytesList
    feats = (
        _pb_field(1, _pb_field(1, b"doc_id") + _pb_field(2, _pb_field(3, int_list)))
        + _pb_field(1, _pb_field(1, b"text") + _pb_field(2, _pb_field(1, bytes_list)))
    )
    return _pb_field(1, feats)


def _write_tfrecord(path: str, payloads: list[bytes]) -> None:
    with open(path, "wb") as f:
        for p in payloads:
            head = struct.pack("<Q", len(p))
            f.write(head + struct.pack("<I", crc32c_masked(head)) + p
                    + struct.pack("<I", crc32c_masked(p)))


def curation_corpus(root: str, rng: np.random.Generator, n_docs: int,
                    n_vecs: int, n_shards: int = 8):
    """Base documents ``0..n_docs-1`` of 14-40 words from a 6000-word
    vocabulary with mild Zipf skew, plus the registry's planted
    duplicates: a verbatim copy of every ``doc_id % 10 == 0`` at
    ``+2*stride`` and a first-word-dropped copy of every
    ``doc_id % 10 == 5`` at ``+stride`` (``stride = n_docs``). Words in
    one document are distinct, so a near copy keeps Jaccard >= 13/14."""
    vocab_n = 6000
    vocab = [f"w{i:04d}" for i in range(vocab_n)]
    weights = 1.0 / np.arange(1, vocab_n + 1) ** 0.6
    weights /= weights.sum()
    docs = []
    for _ in range(n_docs):
        n_words = int(rng.integers(14, 41))
        words = rng.choice(vocab_n, size=n_words, replace=False, p=weights)
        docs.append(" ".join(vocab[w] for w in words))
    stride = n_docs
    corpus = [(i, t) for i, t in enumerate(docs)]
    corpus += [(i + 2 * stride, docs[i]) for i in range(n_docs) if i % 10 == 0]
    corpus += [(i + stride, docs[i].split(" ", 1)[1])
               for i in range(n_docs) if i % 10 == 5]
    order = rng.permutation(len(corpus))
    corpus_dir = os.path.join(root, "corpus")
    os.makedirs(corpus_dir)
    payloads = [_example(*corpus[i]) for i in order]
    for s in range(n_shards):
        _write_tfrecord(
            os.path.join(corpus_dir, f"corpus-{s:05d}-of-{n_shards:05d}.tfrecord"),
            payloads[s::n_shards],
        )

    import pyarrow as pa
    import pyarrow.parquet as pq

    dim = 64
    centers = rng.normal(size=(16, dim))
    vecs = centers[rng.integers(0, 16, n_vecs)] + 0.5 * rng.normal(size=(n_vecs, dim))
    vecs = vecs.astype(np.float32)
    emb_path = os.path.join(root, "embeddings.parquet")
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        }),
        emb_path,
    )
    props = {
        "rows": len(corpus) + n_vecs,
        "documents": n_docs,
        "corpus_rows": len(corpus),
        "exact_dup_share": EXACT_DUP_SHARE,
        "near_dup_share": NEAR_DUP_SHARE,
        "embeddings": n_vecs,
    }
    truth = {"corpus_dir": corpus_dir, "emb_path": emb_path,
             "docs": docs, "corpus": corpus, "vecs": vecs}
    return props, truth


# ---------------------------------------------------------------------------
# fixpoint: an undirected graph with skewed degrees and long chains
# ---------------------------------------------------------------------------


def skewed_graph(rng: np.random.Generator, n_hub_nodes: int, n_chains: int,
                 chain_len: int, peel_len: int):
    """One preferential-attachment component, a peel chain hanging off it,
    and ``n_chains`` separate paths of ``chain_len`` nodes (diameter
    ``chain_len - 1``).

    The component starts from a 4-clique and every new node attaches to
    3 distinct earlier nodes, so degrees are heavy-tailed and all of it
    is in the 3-core. The peel chain ``c_1 .. c_peel_len`` has
    ``c_i ~ c_(i+1)`` and one edge from each ``c_i`` into the component
    (two for ``c_1``): every ``c_i`` has degree 3 except ``c_peel_len``,
    so 3-core peeling removes exactly one chain node per round and
    reaches its fixpoint after ``peel_len`` rounds plus the one that
    sees no change, whatever the seed.

    Ids grow in attachment order and along each path, so each path's
    smallest id sits at one end: label propagation then needs
    ``chain_len - 1`` rounds on it. Returns canonical undirected edges
    ``(u, v)`` with ``u < v`` and the node count."""
    n = n_hub_nodes + peel_len + n_chains * chain_len
    edges = {(u, v) for v in range(4) for u in range(v)}
    targets = [u for e in edges for u in e]
    for v in range(4, n_hub_nodes):
        picked: set[int] = set()
        while len(picked) < 3:
            picked.add(targets[int(rng.integers(len(targets)))])
        for u in picked:
            edges.add((u, v))
            targets += [u, v]
    chain = list(range(n_hub_nodes, n_hub_nodes + peel_len))
    anchors = rng.choice(n_hub_nodes, peel_len + 1, replace=False).tolist()
    edges.update((int(a), c) for a, c in zip(anchors, chain + chain[:1]))
    edges.update(zip(chain, chain[1:]))
    for c in range(n_chains):
        base = n_hub_nodes + peel_len + c * chain_len
        edges.update((base + j, base + j + 1) for j in range(chain_len - 1))
    return np.array(sorted(edges), dtype=np.int64), n


# ---------------------------------------------------------------------------
# events_stream: skewed events in N files, with late arrivals
# ---------------------------------------------------------------------------

EVENT_TYPES = ("view", "click", "purchase", "add_to_cart")
MAX_LATENESS_S = 45 * 60  # well inside every stream's watermark


def events_files(root: str, rng: np.random.Generator, n_events: int,
                 n_users: int, n_files: int):
    """Events over two days with Zipf-skewed users, microsecond
    timestamps. File ``i`` holds the ``i``-th time slice, except that
    half of the events in the last 45 minutes of a slice are delivered
    one file late, so the stream sees out-of-order rows that are never
    beyond any watermark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = int(dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc).timestamp()) * 10**6
    span = 2 * 24 * 3600 * 10**6
    ts = np.sort(rng.integers(t0, t0 + span, n_events))
    user_w = 1.0 / np.arange(1, n_users + 1) ** 1.1
    users = rng.choice(n_users, size=n_events, p=user_w / user_w.sum()).astype(np.int64)
    etype = rng.choice(len(EVENT_TYPES), size=n_events, p=[0.6, 0.25, 0.1, 0.05])
    cents = rng.integers(1, 50000, n_events)
    slice_of = np.minimum((ts - t0) * n_files // span, n_files - 1)
    slice_end = t0 + (slice_of + 1) * span // n_files
    late = ((rng.random(n_events) < 0.5)
            & (ts >= slice_end - MAX_LATENESS_S * 10**6)
            & (slice_of < n_files - 1))
    file_of = slice_of + late
    ev_dir = os.path.join(root, "events")
    os.makedirs(ev_dir)
    event_id = np.arange(n_events, dtype=np.int64)
    for i in range(n_files):
        m = file_of == i
        pq.write_table(
            pa.table({
                "event_id": pa.array(event_id[m]),
                "ts": pa.array(ts[m], type=pa.timestamp("us", tz="UTC")),
                "user_id": pa.array(users[m]),
                "event_type": pa.array([EVENT_TYPES[t] for t in etype[m]]),
                "value": pa.array(cents[m] / 100.0),
                "props": pa.array([None] * int(m.sum()), type=pa.string()),
            }),
            os.path.join(ev_dir, f"part-{i:05d}.parquet"),
        )
    props = {
        "rows": n_events,
        "users": n_users,
        "files": n_files,
        "late_share": round(float(late.mean()), 4),
        "max_lateness_s": MAX_LATENESS_S,
    }
    truth = {"dir": ev_dir, "event_id": event_id, "ts_us": ts, "user_id": users,
             "event_type": np.array(EVENT_TYPES)[etype], "cents": cents}
    return props, truth
