"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of (seed, size): the same seed writes
byte-identical inputs. Each writes the files the program reads plus a
``truth.parquet`` of the generator's own rows, which the DuckDB oracle
(oracle.py) replays independently of the program.

Packet conversations are built so that a flow's sessions follow from the
generator's construction: every TCP conversation ends in its own close
(four-way FIN or RST) or is reset before the handshake, and each
conversation owns a unique address pair, so no two conversations share a
flow key. UDP conversations may carry one planted idle gap that splits
them into two sessions.
"""

from __future__ import annotations

import ipaddress
import json
import multiprocessing
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE_US = 1_700_000_000_000_000
IDLE_GAP_US = 150_000_000  # planted UDP idle gap, > the 120 s idle timeout
BATCH_ROWS = 65_536  # spark.sql.execution.arrow.maxRecordsPerBatch

TCP_FIN, TCP_RST, TCP_RST_EARLY, UDP, ICMP = range(5)
KIND_NAMES = ["tcp_fin", "tcp_rst", "tcp_rst_early", "udp", "icmp"]

_TRUTH_COLS = [
    "conv", "pseq", "kind", "ts_us", "c2s", "proto", "src_ip", "dst_ip",
    "src_port", "dst_port", "dlen", "hdr_len", "fin", "syn", "rst", "psh",
    "ack", "seq", "ack_seq", "window", "icmp_type", "icmp_code",
]


def _v6(i: np.ndarray, prefix: int) -> list[str]:
    return [str(ipaddress.IPv6Address((prefix << 64) | int(x))) for x in i]


def _v4(i: np.ndarray, first: int) -> np.ndarray:
    a = (i >> 16) & 255
    b = (i >> 8) & 255
    c = i & 255
    out = np.char.add(f"{first}.", a.astype(str))
    out = np.char.add(np.char.add(out, "."), b.astype(str))
    return np.char.add(np.char.add(out, "."), c.astype(str)).astype(object)


def packet_conversations(
    seed: int, n_conv: int, mix: tuple[float, ...], span_s: int = 300
) -> pd.DataFrame:
    """Packet rows of ``n_conv`` conversations, kinds drawn with weights
    ``mix`` over (tcp_fin, tcp_rst, tcp_rst_early, udp, icmp).

    Returns one row per packet with the generator's columns (_TRUTH_COLS)
    plus the envelope switches encode_pcap_bytes reads."""
    rng = np.random.default_rng(seed)
    kind = rng.choice(5, size=n_conv, p=np.asarray(mix) / np.sum(mix))
    v6 = rng.random(n_conv) < 0.2
    ndata = rng.integers(1, 25, size=n_conv)
    plen = np.select(
        [kind == TCP_FIN, kind == TCP_RST, kind == TCP_RST_EARLY],
        [3 + ndata + 4, 3 + ndata + 1, 2],
        ndata,
    )
    conv = np.repeat(np.arange(n_conv), plen)
    j = np.arange(conv.size) - np.repeat(np.cumsum(plen) - plen, plen)
    k = kind[conv]
    d = ndata[conv]
    n = conv.size

    # roles within a conversation (j = packet index)
    is_tcp = k <= TCP_RST_EARLY
    hs = is_tcp & (k != TCP_RST_EARLY) & (j < 3)
    data_j = np.where(is_tcp & (k != TCP_RST_EARLY), j - 3, j)
    is_data = (data_j >= 0) & (data_j < d) & (k != TCP_RST_EARLY)
    close_j = np.where(k == TCP_FIN, j - 3 - d, -1)
    rst_pkt = ((k == TCP_RST) & (j == 3 + d)) | ((k == TCP_RST_EARLY) & (j == 1))
    rst_from_client = rng.random(n_conv)[conv] < 0.5

    c2s = np.zeros(n, dtype=bool)
    c2s[hs] = j[hs] != 1
    c2s[is_data] = rng.random(int(is_data.sum())) < 0.55
    c2s[(k == TCP_RST_EARLY) & (j == 0)] = True
    c2s[rst_pkt & (k == TCP_RST)] = rst_from_client[rst_pkt & (k == TCP_RST)]
    fin_close = close_j >= 0
    c2s[fin_close] = np.isin(close_j[fin_close], (0, 3))
    c2s[is_data & (data_j == 0) & ~is_tcp] = True  # UDP/ICMP opener is the client

    syn = ((hs & (j <= 1)) | ((k == TCP_RST_EARLY) & (j == 0))).astype(np.int64)
    ack = (is_tcp & ~((j == 0) & (syn == 1))).astype(np.int64)
    fin = (fin_close & np.isin(close_j, (0, 2))).astype(np.int64)
    rst = rst_pkt.astype(np.int64)
    dlen = np.where(is_data, rng.integers(0, 240, size=n), 0)
    dlen = np.where(is_data & (rng.random(n) < 0.3), 0, dlen)
    psh = (is_tcp & is_data & (dlen > 0)).astype(np.int64)

    # sequence numbers: client base a, server base b; handshake and the
    # four-way close follow the ack arithmetic the TCP lifecycle checks
    a = rng.integers(1, 1 << 30, size=n_conv)[conv]
    b = rng.integers(1, 1 << 30, size=n_conv)[conv]
    off = 1 + 1000 * np.maximum(data_j, 0)
    seq = np.where(c2s, a + off, b + off)
    ack_seq = np.where(c2s, b + off, a + off)
    x_fin = a + 5_000_000
    y_fin = b + 5_000_000
    seq = np.select(
        [j == 0, hs & (j == 1), hs & (j == 2), close_j == 0, close_j == 2],
        [a, b, a + 1, x_fin, y_fin],
        seq,
    )
    ack_seq = np.select(
        [(j == 0) & is_tcp, hs & (j == 1), hs & (j == 2), close_j == 0,
         close_j == 1, close_j == 2, close_j == 3],
        [0, a + 1, b + 1, b + 7, x_fin + 1, x_fin + 1, y_fin + 1],
        ack_seq,
    )
    seq = np.where(is_tcp, seq & 0xFFFFFFFF, 0)
    ack_seq = np.where(is_tcp, ack_seq & 0xFFFFFFFF, 0)
    ack_seq = np.where(ack == 1, ack_seq, 0)

    proto = np.select([is_tcp, k == UDP], [6, 17], np.where(v6[conv], 58, 1))
    icmp_req = c2s
    icmp_type = np.where(
        proto == 1, np.where(icmp_req, 8, 0),
        np.where(proto == 58, np.where(icmp_req, 128, 129), 0),
    )
    window = np.where(is_tcp, 1000 + (j % 97) * 7, 0)
    hdr_opt = np.where(is_tcp & (j % 2 == 0), 8, 0)
    hdr_len = np.where(is_tcp, 20 + hdr_opt, 8)

    # timestamps: strictly increasing inside a conversation; UDP
    # conversations with a planted idle gap split into two sessions
    start = BASE_US + rng.integers(0, span_s * 1_000_000, size=n_conv)
    gap = rng.integers(50, 40_000, size=n).astype(np.int64)
    gap[j == 0] = 0
    split_at = np.where(
        (kind == UDP) & (ndata >= 4) & (rng.random(n_conv) < 0.25), ndata // 2, -1
    )
    gap[(j == split_at[conv]) & (j > 0)] += IDLE_GAP_US
    csum = np.cumsum(gap)
    first = np.cumsum(plen) - plen
    ts = start[conv] + csum - csum[first][conv]

    cid = np.arange(n_conv)
    cip = np.empty(n_conv, dtype=object)
    sip = np.empty(n_conv, dtype=object)
    cip[~v6] = _v4(cid[~v6], 10)
    sip[~v6] = _v4(cid[~v6] % 24 + 1, 172)
    cip[v6] = _v6(cid[v6], 0x20010DB8_0000_0000)
    sip[v6] = _v6(cid[v6] % 24 + 1, 0x20010DB8_0001_0000)
    cport = np.where(kind == ICMP, 0, 1024 + cid % 60000)
    sport = np.select([kind <= TCP_RST_EARLY, kind == UDP], [443, 53], 0)

    cc, ss = cip[conv], sip[conv]
    cp, sp = cport[conv], sport[conv]
    pdf = pd.DataFrame({
        "conv": conv, "pseq": j, "kind": k, "ts_us": ts, "c2s": c2s,
        "proto": proto, "src_ip": np.where(c2s, cc, ss),
        "dst_ip": np.where(c2s, ss, cc),
        "src_port": np.where(c2s, cp, sp), "dst_port": np.where(c2s, sp, cp),
        "dlen": dlen, "hdr_len": hdr_len, "fin": fin, "syn": syn, "rst": rst,
        "psh": psh, "ack": ack, "seq": seq, "ack_seq": ack_seq,
        "window": window, "icmp_type": icmp_type, "icmp_code": 0,
        "v6": v6[conv], "vlan": rng.random(n_conv)[conv] < 0.25,
        "ext": v6[conv] & (j % 3 == 1), "hdr_opt": hdr_opt,
        "inject_frag": False, "inject_arp": False,
    })
    return pdf


def _encode_file(args) -> int:
    from rustiflow_spark.sources.pcap_write import encode_pcap_bytes

    path, pdf, endian, ns, sll = args
    data = encode_pcap_bytes(pdf, endian=endian, ns=ns, sll=sll)
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


# capture envelopes: (endian, ns timestamps, Linux-cooked link layer)
_ENVELOPES = [("<", False, False), ("<", True, False), (">", False, False), ("<", False, True)]


def _done(out_dir: str) -> dict | None:
    try:
        with open(os.path.join(out_dir, "props.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _finish(out_dir: str, tmp: str, props: dict) -> dict:
    with open(os.path.join(tmp, "props.json"), "w") as f:
        json.dump(props, f)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return props


def _write_truth(tmp: str, pdf: pd.DataFrame) -> None:
    pq.write_table(
        pa.Table.from_pandas(pdf[_TRUTH_COLS], preserve_index=False),
        os.path.join(tmp, "truth.parquet"),
    )


def _flow_props(pdf: pd.DataFrame) -> dict:
    kinds = pdf.groupby("conv")["kind"].first().to_numpy()
    return {
        "input_rows": int(len(pdf)),
        "keys": int(pdf["conv"].nunique()),
        "hot_key_rows": int(pdf.groupby("conv").size().max()),
        "max_batches_per_key": 1,
        "conversations": {KIND_NAMES[i]: int((kinds == i).sum()) for i in range(5)},
    }


def make_pcap_cic(out_dir: str, seed: int, n_conv: int, workers: int) -> dict:
    """Four classic-pcap captures (LE/us, LE/ns, BE/us, Linux-cooked);
    conversations are dealt to captures by id, each capture time-ordered."""
    props = _done(out_dir)
    if props is not None:
        return props
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "pcap"))
    pdf = packet_conversations(
        seed, n_conv, mix=(0.45, 0.15, 0.05, 0.25, 0.10)
    )
    jobs = []
    for fid, (endian, ns, sll) in enumerate(_ENVELOPES):
        part = pdf[pdf["conv"] % len(_ENVELOPES) == fid]
        part = part.sort_values(["ts_us", "conv", "pseq"], kind="mergesort")
        jobs.append((os.path.join(tmp, "pcap", f"cap_{fid}.pcap"), part, endian, ns, sll))
    if n_conv < 1000:
        sizes = [_encode_file(j) for j in jobs]
    else:
        ctx = multiprocessing.get_context("spawn")
        with ctx.Pool(min(workers, len(jobs))) as pool:
            sizes = pool.map(_encode_file, jobs)
            pool.close()
            pool.join()
    _write_truth(tmp, pdf)
    props = _flow_props(pdf)
    props["capture_bytes"] = int(sum(sizes))
    return _finish(out_dir, tmp, props)


def make_stream_flows(out_dir: str, seed: int, n_conv: int, n_files: int) -> dict:
    """TCP conversations as the packet-event table, cut into ``n_files``
    time-ordered parquet files whose mtimes follow event time, so a file
    source with maxFilesPerTrigger=1 replays them in order."""
    from rustiflow_spark.schema import PACKET_EVENT_SCHEMA
    from pyspark.sql.pandas.types import to_arrow_schema

    props = _done(out_dir)
    if props is not None:
        return props
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "src"))
    pdf = packet_conversations(seed, n_conv, mix=(0.65, 0.25, 0.10, 0.0, 0.0), span_s=120)
    pdf = pdf.sort_values(["ts_us", "conv", "pseq"], kind="mergesort").reset_index(drop=True)
    pdf["event_seq"] = np.arange(len(pdf), dtype=np.int64)
    ev = pd.DataFrame({
        "src_ip": pdf["src_ip"], "dst_ip": pdf["dst_ip"],
        "src_port": pdf["src_port"], "dst_port": pdf["dst_port"],
        "protocol": pdf["proto"], "ts_us": pdf["ts_us"],
        "fin_flag": pdf["fin"], "syn_flag": pdf["syn"], "rst_flag": pdf["rst"],
        "psh_flag": pdf["psh"], "ack_flag": pdf["ack"], "urg_flag": 0,
        "cwr_flag": 0, "ece_flag": 0,
        "flags": pdf["fin"] + 2 * pdf["syn"] + 4 * pdf["rst"] + 8 * pdf["psh"] + 16 * pdf["ack"],
        "data_length": pdf["dlen"], "header_length": pdf["hdr_len"],
        "length": pdf["dlen"] + pdf["hdr_len"] + np.where(pdf["v6"], 40, 20),
        "window_size": pdf["window"], "sequence_number": pdf["seq"],
        "sequence_number_ack": pdf["ack_seq"],
        "icmp_type": pd.array([None] * len(pdf), dtype="Int32"),
        "icmp_code": pd.array([None] * len(pdf), dtype="Int32"),
        "event_seq": pdf["event_seq"],
    })
    schema = to_arrow_schema(PACKET_EVENT_SCHEMA)
    cuts = np.linspace(0, len(ev), n_files + 1).astype(int)
    for i in range(n_files):
        part = ev.iloc[cuts[i]:cuts[i + 1]]
        path = os.path.join(tmp, "src", f"part-{i:03d}.parquet")
        pq.write_table(pa.Table.from_pandas(part, schema=schema, preserve_index=False), path)
        os.utime(path, (1_000_000_000 + 60 * i, 1_000_000_000 + 60 * i))
    _write_truth(tmp, pdf)
    props = _flow_props(pdf)
    # keys whose packets straddle a file cut, i.e. carried in state
    file_of = np.searchsorted(cuts[1:], np.arange(len(ev)), side="right")
    props["keys_across_batches"] = int(
        (pd.Series(file_of).groupby(pdf["conv"].to_numpy()).nunique() > 1).sum()
    )
    props["micro_batches"] = n_files
    return _finish(out_dir, tmp, props)


def make_session_hotkey(
    out_dir: str, seed: int, n_events: int, hot_share: float = 0.8, n_files: int = 4
) -> dict:
    """North-rule token table with one hot (source, doc_id) key holding
    ``hot_share`` of the rows; the rest spread over cold keys with about
    two events each. Sessions end on idle gaps and terminator events."""
    props = _done(out_dir)
    if props is not None:
        return props
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "events"))
    rng = np.random.default_rng(seed)
    n_hot = int(n_events * hot_share)
    n_cold = n_events - n_hot
    n_keys = max(1, n_cold // 2)
    sources = np.array(["arxiv", "books", "code", "web"], dtype=object)

    # hot key: steady arrivals with a planted idle gap every ~200k events
    # and rare terminators
    hot_gap = rng.integers(1, 2_000, size=n_hot).astype(np.int64)
    hot_gap[rng.random(n_hot) < 5e-6] += IDLE_GAP_US
    hot_ts = BASE_US + np.cumsum(hot_gap)
    span = int(hot_ts[-1] - BASE_US) if n_hot else 1_000_000
    cold_key = rng.integers(0, n_keys, size=n_cold)
    cold_ts = BASE_US + rng.integers(0, span, size=n_cold)

    ts = np.concatenate([hot_ts, cold_ts])
    key = np.concatenate([np.full(n_hot, -1), cold_key])
    term = np.concatenate([
        (rng.random(n_hot) < 2e-5).astype(np.int32),
        (rng.random(n_cold) < 0.05).astype(np.int32),
    ])
    order = np.argsort(ts, kind="stable")
    ts, key, term = ts[order], key[order], term[order]
    n_tok = rng.integers(1, 512, size=n_events).astype(np.int32)
    direction = (rng.random(n_events) < 0.5).astype(np.int32)
    # key -1 is the hot key; names are built once per key, then gathered
    doc = np.array(["hot-0"] + [f"d{k:07d}" for k in range(n_keys)], dtype=object)[key + 1]
    src = np.concatenate([["web"], sources[np.arange(n_keys) % 4]])[key + 1]
    tok_len = rng.integers(1, 4, size=n_events)
    offsets = np.concatenate([[0], np.cumsum(tok_len)]).astype(np.int32)
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(rng.integers(0, 50_000, size=int(offsets[-1])).astype(np.int32))
    )
    table = pa.table({
        "doc_id": pa.array(doc, pa.string()),
        "tokens": tokens,
        "n_tok": n_tok,
        "source": pa.array(src, pa.string()),
        "ts_us": ts,
        "direction": direction,
        "terminator": term,
        "event_seq": np.arange(n_events, dtype=np.int64),
    })
    cuts = np.linspace(0, n_events, n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(
            table.slice(cuts[i], cuts[i + 1] - cuts[i]),
            os.path.join(tmp, "events", f"part-{i:03d}.parquet"),
        )
    props = {
        "input_rows": int(n_events),
        "keys": int(np.unique(cold_key).size + (1 if n_hot else 0)),
        "hot_key_rows": int(n_hot),
        "max_batches_per_key": int(-(-n_hot // BATCH_ROWS)),
    }
    return _finish(out_dir, tmp, props)
