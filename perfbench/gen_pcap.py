#!/usr/bin/env python3
"""Seeded capture generator for the flagship capture workload.

Writes one classic little-endian microsecond pcap (linktype Ethernet) and
computes, without the engine, what the pipeline must produce from it:

- ``decodable``: frames the v4-only decoder keeps (IPv4 carrying TCP/UDP);
- ``in_range``: decodable packets inside an extraction range;
- ``forward``: in-range packets whose source is an attacker of a rule
  covering their timestamp (the adversarial sink);
- ``labels``: per-label counts over the in-range packets, last matching
  rule wins, default ``benign``;
- ``checksum`` / ``adv_checksum``: order-insensitive checksums of the
  anonymized, 1525-truncated datagram bytes of the data / adversarial rows;
- ``meta_checksum``: the same over the metadata columns.

The rules are the CICIDS2017 Thursday preset, restated here so that the
check does not borrow the engine's own copy.

Usage: gen_pcap.py --seed N --packets N --out F.pcap
(prints the expected values as JSON).
"""
import argparse
import json
import struct

import numpy as np

WIDTH = 1525
# (lo, hi, attackers, victims, label), in rule order.
RULES = [
    (1499343600.0, 1499346000.0, ["172.16.0.1"], ["192.168.10.50"], "Bruteforce"),
    (1499346900.0, 1499348100.0, ["172.16.0.1"], ["192.168.10.50"], "XSS"),
    (1499348400.0, 1499348520.0, ["172.16.0.1"], ["192.168.10.50"], "SQLi"),
    (1499361540.0, 1499361660.0, ["205.174.165.73"], ["192.168.10.8"], "Infiltration"),
    (1499362380.0, 1499362500.0, ["205.174.165.73"], ["192.168.10.8"], "Infiltration"),
    (1499363580.0, 1499364000.0, ["205.174.165.73"], ["192.168.10.25"], "Infiltration"),
    (1499364240.0, 1499366700.0, ["192.168.10.8", "205.174.165.73"], ["192.168.10.8"], "Infiltration"),
]
RANGES = [(lo, hi) for lo, hi, _, _, _ in RULES]

# Frame kinds and their shares. The last three are dropped by the decoder.
TCP, UDP, ARP, ICMP, IPV6 = range(5)
KIND_P = [0.62, 0.34, 0.015, 0.015, 0.01]


def ip_u32(s):
    a, b, c, d = (int(x) for x in s.split("."))
    return (a << 24) | (b << 16) | (c << 8) | d


def _timestamps(rng, n):
    """Microsecond timestamps, all inside the rule windows, ~60% in the
    three 172.16.0.1 windows."""
    w = np.array([hi - lo for lo, hi in RANGES])
    p = np.where(np.arange(len(RANGES)) < 3, 0.6 * w / w[:3].sum(), 0.4 * w / w[3:].sum())
    win = rng.choice(len(RANGES), size=n, p=p)
    lo = np.array([r[0] for r in RANGES])[win]
    hi = np.array([r[1] for r in RANGES])[win]
    us = (lo * 1e6).astype(np.int64) + (rng.random(n) * (hi - lo) * 1e6).astype(np.int64)
    return np.sort(us)


def _addresses(rng, n, ts_s):
    """(src, dst) as uint32. ~10% attacker traffic 172.16.0.1->192.168.10.50,
    ~3% infiltration traffic, the rest random LAN<->WAN."""
    lan = ip_u32("192.168.10.0")
    src = np.where(rng.random(n) < 0.5, lan + rng.integers(1, 255, n),
                   rng.integers(ip_u32("1.0.0.0"), ip_u32("223.0.0.0"), n))
    dst = np.where(src >= lan, rng.integers(ip_u32("1.0.0.0"), ip_u32("223.0.0.0"), n),
                   lan + rng.integers(1, 255, n))
    u = rng.random(n)
    in_first3 = ts_s <= RANGES[2][1]
    att = (u < 0.16) & in_first3  # 16% of the 60% in those windows
    src = np.where(att, ip_u32("172.16.0.1"), src)
    dst = np.where(att, ip_u32("192.168.10.50"), dst)
    inf = (u >= 0.16) & (u < 0.21) & ~in_first3
    inf_src = np.where(rng.random(n) < 0.5, ip_u32("205.174.165.73"), ip_u32("192.168.10.8"))
    inf_dst = np.where(rng.random(n) < 0.5, ip_u32("192.168.10.8"), ip_u32("192.168.10.25"))
    src = np.where(inf, inf_src, src)
    dst = np.where(inf, inf_dst, dst)
    return src.astype(np.int64), dst.astype(np.int64)


def _put(buf, offs, values, nbytes, big_endian=True):
    """Write each value at its offset as an unsigned nbytes-wide integer."""
    values = np.asarray(values, dtype=np.int64)
    for k in range(nbytes):
        shift = 8 * (nbytes - 1 - k) if big_endian else 8 * k
        buf[offs + k] = (values >> shift) & 0xFF


def _ranges_index(starts, lens):
    """Flat index of all positions start..start+len-1, one run per row."""
    lens = np.asarray(lens, dtype=np.int64)
    total = int(lens.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    run_start = np.repeat(np.cumsum(lens) - lens, lens)
    pos = np.arange(total, dtype=np.int64) - run_start
    return np.repeat(np.asarray(starts, dtype=np.int64), lens) + pos, pos


def generate(seed, n, out_path):
    rng = np.random.default_rng(seed)
    us = _timestamps(rng, n)
    ts_s = us / 1e6
    src, dst = _addresses(rng, n, ts_s)
    kind = rng.choice(5, size=n, p=KIND_P)
    ip4 = (kind == TCP) | (kind == UDP) | (kind == ICMP)
    ihl = np.where(ip4 & (rng.random(n) < 0.05), 24, 20)  # some carry IP options
    thl = np.select([kind == TCP, kind == UDP, kind == ICMP], [20, 8, 8], 0)
    # payload: 1/4 short, 2% jumbo (datagram beyond the 1525-byte cut), rest MTU-sized
    u = rng.random(n)
    pay = np.where(u < 0.25, rng.integers(0, 32, n),
                   np.where(u < 0.27, rng.integers(1500, 3000, n), rng.integers(32, 1441, n)))
    ip_len = np.where(ip4, ihl + thl + pay, 0)
    frame_len = np.select([ip4, kind == ARP, kind == IPV6], [14 + ip_len, 42, 14 + 40 + 20 + pay])
    frame_len = np.maximum(frame_len, 60)  # Ethernet minimum, zero-padded
    rec = 16 + frame_len
    rec_off = 24 + np.concatenate([[0], np.cumsum(rec)[:-1]])
    total = int(24 + rec.sum())

    buf = rng.integers(0, 256, size=total, dtype=np.uint8)  # high-entropy default
    buf[:24] = np.frombuffer(struct.pack("<IHHiIII", 0xA1B2C3D4, 2, 4, 0, 0, 65535, 1), np.uint8)
    _put(buf, rec_off, us // 1_000_000, 4, big_endian=False)
    _put(buf, rec_off + 4, us % 1_000_000, 4, big_endian=False)
    _put(buf, rec_off + 8, frame_len, 4, big_endian=False)
    _put(buf, rec_off + 12, frame_len, 4, big_endian=False)
    eth = rec_off + 16
    _put(buf, eth + 12, np.select([ip4, kind == ARP], [0x0800, 0x0806], 0x86DD), 2)

    ip = eth[ip4] + 14
    buf[ip] = 0x40 | (ihl[ip4] // 4)
    _put(buf, ip + 2, ip_len[ip4], 2)
    _put(buf, ip + 6, 0x4000, 2)
    buf[ip + 8] = 64
    buf[ip + 9] = np.select([kind[ip4] == TCP, kind[ip4] == UDP], [6, 17], 1)
    _put(buf, ip + 12, src[ip4], 4)
    _put(buf, ip + 16, dst[ip4], 4)
    tr = ip + ihl[ip4]
    sport = rng.integers(1024, 65536, n)
    dport = rng.choice([53, 80, 123, 443, 8080], size=n)
    _put(buf, tr, sport[ip4], 2)
    _put(buf, tr + 2, dport[ip4], 2)
    tcp = kind[ip4] == TCP
    buf[tr[tcp] + 12] = 0x50
    udp = kind[ip4] == UDP
    _put(buf, tr[udp] + 4, thl[ip4][udp] + pay[ip4][udp], 2)
    v6 = eth[kind == IPV6] + 14
    buf[v6] = 0x60
    buf[v6 + 6] = 6
    # UDP payloads: low-entropy ASCII
    udp_all = kind == UDP
    idx, _ = _ranges_index(eth[udp_all] + 14 + ihl[udp_all] + 8, pay[udp_all])
    alphabet = np.frombuffer(b"GET /index.html HTTP/1.1 host=a\n", np.uint8)
    buf[idx] = alphabet[rng.integers(0, len(alphabet), idx.size)]
    # Ethernet padding after short datagrams is zero, as on the wire
    pad_start = np.where(ip4, eth + 14 + ip_len, eth + frame_len)
    idx, _ = _ranges_index(pad_start, eth + frame_len - pad_start)
    buf[idx] = 0

    with open(out_path, "wb") as f:
        f.write(buf.tobytes())

    keep = (kind == TCP) | (kind == UDP)
    in_range = np.zeros(n, dtype=bool)
    for lo, hi in RANGES:
        in_range |= (ts_s >= lo) & (ts_s <= hi)
    in_range &= keep
    labels = np.full(n, "benign", dtype=object)
    forward = np.zeros(n, dtype=bool)
    for lo, hi, att, vic, label in RULES:
        a = np.array([ip_u32(x) for x in att])
        v = np.array([ip_u32(x) for x in vic])
        t = (ts_s >= lo) & (ts_s <= hi)
        hit = t & ((np.isin(src, a) & np.isin(dst, v)) | (np.isin(dst, a) & np.isin(src, v)))
        labels[hit] = label
        forward |= t & np.isin(src, a)
    forward &= in_range

    proto = np.where(kind == TCP, 6, 17)
    meta = src + 3 * dst + 5 * sport + 7 * dport + 11 * proto
    row_sum = np.zeros(n, dtype=np.int64)
    rows = np.flatnonzero(in_range)
    for chunk in np.array_split(rows, max(1, len(rows) // 4000)):
        cut = np.minimum(ip_len[chunk], WIDTH)
        idx, pos = _ranges_index(eth[chunk] + 14, cut)
        b = buf[idx].astype(np.int64)
        ihl_pos = np.repeat(ihl[chunk], cut)
        anon = ((pos >= 12) & (pos < 20)) | ((pos >= ihl_pos) & (pos < ihl_pos + 4))
        b[anon] = 0
        seg = np.repeat(np.arange(len(chunk)), cut)
        row_sum[chunk] = np.bincount(seg, weights=(pos + 1) * b, minlength=len(chunk)).astype(np.int64)
    weighted = row_sum * (1 + us % 1009)

    def s(mask, v):
        return int(v[mask].sum())

    return {
        "seed": seed, "packets": n, "bytes": total,
        "decodable": int(keep.sum()), "in_range": int(in_range.sum()),
        "forward": int(forward.sum()),
        "labels": {k: int(c) for k, c in zip(*np.unique(labels[in_range].astype(str), return_counts=True))},
        "checksum": s(in_range, weighted), "adv_checksum": s(forward, weighted),
        "meta_checksum": s(in_range, meta), "adv_meta_checksum": s(forward, meta),
        "udp_share": float((kind == UDP).mean()), "short_share": float((pay < 32).mean()),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--packets", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.seed, a.packets, a.out)))


if __name__ == "__main__":
    main()
