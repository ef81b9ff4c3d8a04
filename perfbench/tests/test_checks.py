"""The output checks themselves: the independent CRC walk catches damage,
and the RSNA reference has the closed-form fan-out counts."""

from __future__ import annotations

import math
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import tfrecord_io  # noqa: E402
from wl_rsna_etl import RsnaEtl  # noqa: E402


def test_crc_walk_flags_bit_flips_and_truncation(tmp_path):
    path = str(tmp_path / "x.tfrecord")
    gen._write_tfrecord(path, [gen._example(i, "w%d " % i * i) for i in range(40)])
    assert tfrecord_io.crc_failures(path) == 0
    data = bytearray(open(path, "rb").read())
    data[len(data) // 2] ^= 0x10
    open(path, "wb").write(bytes(data))
    assert tfrecord_io.crc_failures(path) == 1
    open(path, "wb").write(bytes(data[:-2]))
    assert tfrecord_io.crc_failures(path) == 1


def test_rsna_reference_counts(tmp_path):
    _, truth = gen.rsna_labels(str(tmp_path), np.random.default_rng(5), 50)
    ref = RsnaEtl().reference(truth)
    n_pos = len(truth["valid_boxes"])
    n_neg = len(truth["patients"]) - n_pos
    assert ref["n_train"] + ref["n_val"] == 190 * n_pos + 20 * n_neg
    assert ref["skipped"] == 190 * truth["n_invalid"]
    train_patients = {k[:36] for k in ref["ids"]["train"]}
    assert len(train_patients) == math.floor(50 * 0.8 + 0.5)


def test_kcore_peel_takes_every_round():
    """The generated graph makes 3-core peeling use all the rounds the
    registered query allows: one peel-chain node goes per round, and the
    last round sees no change."""
    import collections

    import wl_fixpoint

    wl = wl_fixpoint.Fixpoint()
    for seed in (1, 2, 3):
        edges, _ = gen.skewed_graph(np.random.default_rng(seed), **wl.sizes["full"],
                                    peel_len=wl.peel_len)
        adj = collections.defaultdict(set)
        for u, v in edges.tolist():
            adj[u].add(v)
            adj[v].add(u)
        surv, rounds = set(adj), 0
        while True:
            rounds += 1
            keep = {u for u in surv if len(adj[u] & surv) >= wl_fixpoint.KCORE_K}
            if keep == surv:
                break
            surv = keep
        assert rounds == wl_fixpoint.KCORE_ITERS
        assert len(surv) == wl.sizes["full"]["n_hub_nodes"]
