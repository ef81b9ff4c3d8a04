"""TFRecord framing and CRC32C written independently of the package, so
the benchmark can both make TFRecord inputs and verify the sink's
output without trusting the code under test."""

from __future__ import annotations

import struct

import numpy as np


def _table() -> np.ndarray:
    poly = 0x82F63B78  # CRC32C (Castagnoli), reflected
    t = np.arange(256, dtype=np.uint32)
    for _ in range(8):
        t = np.where(t & 1, (t >> 1) ^ poly, t >> 1).astype(np.uint32)
    return t


_T = _table()
_T_LIST = [int(v) for v in _T]


def _mask(crc):
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


def crc32c_masked(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = _T_LIST[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return _mask(crc ^ 0xFFFFFFFF)


def crc32c_masked_batch(buf: np.ndarray, starts: np.ndarray,
                        lens: np.ndarray) -> np.ndarray:
    """Masked CRC32C of ``buf[starts[i]:starts[i]+lens[i]]`` for every
    ``i`` at once: one table step per byte position, across all records."""
    crc = np.full(len(starts), 0xFFFFFFFF, dtype=np.uint64)
    table = _T.astype(np.uint64)
    for j in range(int(lens.max()) if len(lens) else 0):
        act = np.nonzero(lens > j)[0]
        b = buf[starts[act] + j].astype(np.uint64)
        c = crc[act]
        crc[act] = table[(c ^ b) & 0xFF] ^ (c >> 8)
    return _mask(crc ^ 0xFFFFFFFF).astype(np.uint32)


def crc_failures(path: str) -> int:
    """Walk one TFRecord file and count the frames whose length or
    payload CRC does not match; a frame that runs past the end of the
    file counts as one failure."""
    with open(path, "rb") as f:
        data = f.read()
    pos, heads, payloads = 0, [], []
    while pos < len(data):
        if pos + 12 > len(data):
            return 1
        (n,) = struct.unpack_from("<Q", data, pos)
        if pos + 16 + n > len(data):
            return 1
        heads.append(pos)
        payloads.append((pos + 12, n))
        pos += 16 + n
    if not heads:
        return 0
    buf = np.frombuffer(data, dtype=np.uint8)
    hs = np.array(heads, dtype=np.int64)
    ps = np.array([p for p, _ in payloads], dtype=np.int64)
    pl = np.array([n for _, n in payloads], dtype=np.int64)
    want_h = buf[(hs[:, None] + np.arange(8, 12)).ravel()].view("<u4")
    want_p = buf[((ps + pl)[:, None] + np.arange(4)).ravel()].view("<u4")
    got_h = crc32c_masked_batch(buf, hs, np.full(len(hs), 8, dtype=np.int64))
    got_p = crc32c_masked_batch(buf, ps, pl)
    return int(np.count_nonzero(got_h != want_h) + np.count_nonzero(got_p != want_p))
