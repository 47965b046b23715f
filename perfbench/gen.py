"""Seeded input generators for the four benchmark workloads.

Every generator takes the seed as an argument, runs outside any timed span,
and hands the program nothing but the files it writes. The same seed gives
byte-identical files; a different seed gives different ones. The shape of
each input (event count, mix, planted defects) is fixed per workload, so a
new seed changes the content and not the amount of work.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 3, 1)

# -- consumer_replay: producer JSONL -----------------------------------------

ENERGY_TYPES = (
    "energy_consumed", "view_tariffs", "user_login", "user_logout",
    "bill_payment", "tariff_switch", "incentive_claim",
)
ENERGY_MIX = (0.34, 0.16, 0.14, 0.12, 0.11, 0.08, 0.05)
CHANNELS = ("web_portal", "mobile_app", "call_center")
TARIFFS = ("basic", "green", "premium")

CONSUMER = {
    "lines": 400,
    "customers": 400,
    "zipf_s": 1.1,
    "days": 2,
    "malformed_share": 0.01,
    "envelope_invalid_share": 0.01,
    "semantic_invalid_share": 0.02,
    "out_of_order_share": 0.05,
    "max_lateness_h": 6,
}


def sub_seed(seed: int, i: int) -> tuple[int, int]:
    """Seed of the ``i``-th input drawn from a run seeded with ``seed``."""
    return (seed, i)


def _seq(seed) -> list[int]:
    return list(seed) if isinstance(seed, tuple) else [seed]


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S")


def consumer_jsonl(path: str, seed, spec: dict = CONSUMER) -> dict:
    """Write one producer backlog and return its planted counts.

    Event times ascend over ``days`` days; ``out_of_order_share`` of the lines
    carry a time up to ``max_lateness_h`` hours before their position (late
    arrivals). Invalid lines are planted at fixed shares: malformed JSON,
    envelope-invalid (a missing key or a blank type), and semantic-invalid
    (an unparseable time or a missing required payload field)."""
    rng = np.random.default_rng([*_seq(seed), 1])
    n = spec["lines"]
    cust = rng.choice(spec["customers"], size=n, p=_zipf_weights(spec["customers"], spec["zipf_s"]))
    types = rng.choice(len(ENERGY_TYPES), size=n, p=ENERGY_MIX)
    secs = np.sort(rng.integers(0, spec["days"] * 86400, size=n))
    late = rng.random(n) < spec["out_of_order_share"]
    secs = np.where(late, np.maximum(secs - rng.integers(600, spec["max_lateness_h"] * 3600, size=n), 0), secs)
    kinds = np.zeros(n, dtype=int)  # 0 valid, 1 malformed, 2 envelope, 3 semantic
    shares = (spec["malformed_share"], spec["envelope_invalid_share"], spec["semantic_invalid_share"])
    slots = rng.permutation(n)
    start = 0
    for k, share in enumerate(shares, start=1):
        m = round(n * share)
        kinds[slots[start:start + m]] = k
        start += m
    lines = []
    for i in range(n):
        etype = ENERGY_TYPES[types[i]]
        payload = {
            "customer_id": f"CUST{cust[i]:04d}",
            "session_id": int(rng.integers(1000, 5000)),
            "channel": CHANNELS[int(rng.integers(0, 3))],
        }
        if etype in ("view_tariffs", "tariff_switch", "incentive_claim"):
            payload["tariff_type"] = TARIFFS[int(rng.integers(0, 3))]
        if etype == "energy_consumed":
            payload["energy_consumed"] = f"{rng.uniform(0.1, 40.0):.3f}"
        if etype in ("bill_payment", "tariff_switch", "incentive_claim"):
            payload["payment_amount"] = f"{rng.uniform(5.0, 250.0):.2f}"
        event = {
            "event_type": etype,
            "event_time": _iso(EPOCH + dt.timedelta(seconds=int(secs[i]))),
            "payload": payload,
        }
        kind = kinds[i]
        if kind == 1:
            lines.append(json.dumps(event)[:-7])
            continue
        if kind == 2:
            if i % 2:
                del event["payload"]
            else:
                event["event_type"] = " "
        elif kind == 3:
            if i % 2:
                event["event_time"] = "not-a-time"
            else:
                del payload["customer_id"]
        lines.append(json.dumps(event))
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return {
        "lines": n,
        "invalid": int((kinds > 0).sum()),
        "malformed": int((kinds == 1).sum()),
        "envelope_invalid": int((kinds == 2).sum()),
        "semantic_invalid": int((kinds == 3).sum()),
        "out_of_order": int(late.sum()),
    }


# -- generic events table (dashboard_refresh, stateful_stream) --------------

GENERIC_TYPES = ("click", "view", "purchase", "signup", "error")
GENERIC_MIX = (0.45, 0.2, 0.15, 0.1, 0.1)

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def _events_table(event_id, ts_us, user_id, type_idx, value) -> pa.Table:
    n = len(event_id)
    return pa.table(
        {
            "event_id": pa.array(event_id, pa.int64()),
            "ts": pa.array(ts_us, pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(user_id, pa.int64()),
            "event_type": pa.array([GENERIC_TYPES[t] for t in type_idx], pa.string()),
            "value": pa.array(value, pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        },
        schema=EVENTS_SCHEMA,
    )


def _generic_events(rng, n: int, users: int, days: int, zipf_s: float):
    user_id = rng.choice(users, size=n, p=_zipf_weights(users, zipf_s)) + 1
    type_idx = rng.choice(len(GENERIC_TYPES), size=n, p=GENERIC_MIX)
    value = np.round(rng.uniform(0.5, 120.0, size=n), 2)
    ts_us = int(EPOCH.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000 + np.sort(
        rng.integers(0, days * 86400, size=n)
    ) * 1_000_000
    return ts_us, user_id, type_idx, value


DASHBOARD = {
    "events": 20000,
    "users": 1000,
    "zipf_s": 1.1,
    "days": 45,
    # time-sorted row groups of about a day, so narrow ranges can skip most
    "row_group_rows": 500,
    # range widths rotate over the ranged panels of each refresh
    "range_widths_h": (6, 24, 168, 720),
}


def dashboard_events(sf_dir: str, seed, spec: dict = DASHBOARD) -> dict:
    """Write ``events.parquet`` in the generic events schema the catalog reads
    (its adapter maps it onto the seven energy event types)."""
    rng = np.random.default_rng([*_seq(seed), 2])
    n = spec["events"]
    ts_us, user_id, type_idx, value = _generic_events(rng, n, spec["users"], spec["days"], spec["zipf_s"])
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(_events_table(np.arange(1, n + 1), ts_us, user_id, type_idx, value),
                   os.path.join(sf_dir, "events.parquet"), row_group_size=spec["row_group_rows"])
    return {"events": n, "t_min_us": int(ts_us.min()), "t_max_us": int(ts_us.max())}


def range_start_sampler(seed, info: dict):
    """Seeded, hour-aligned start of a ``width_h``-hour range inside the
    data; every call draws the next start of the sequence."""
    rng = np.random.default_rng([*_seq(seed), 3])
    lo0 = (dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=info["t_min_us"])).replace(
        minute=0, second=0, microsecond=0
    )
    span_h = (info["t_max_us"] - info["t_min_us"]) // 3_600_000_000

    def start(width_h: int) -> dt.datetime:
        return lo0 + dt.timedelta(hours=int(rng.integers(0, max(1, span_h - width_h))))

    return start


# -- stateful_stream: ascending chunk files ----------------------------------

STREAM = {
    "events": 3000,
    "chunks": 3,
    "users": 800,
    "zipf_s": 1.1,
    "days": 2,
    "disorder_share": 0.1,
    "late_rows_per_chunk": 5,
}


def stream_chunks(src_dir: str, seed, spec: dict, probe_dir: str, admitted_dir: str) -> dict:
    """Write ``chunks`` parquet files in ascending event time plus a far-future
    sentinel file that flushes every open hour.

    Rows inside a file are shuffled, and ``disorder_share`` of each file's rows
    (after the first) fall up to one hour before the previous files' maximum:
    out of order but inside the pipeline's default two-hour lateness horizon.
    Spark drops input older than the watermark of the batch before last (max
    event time of the files up to two back, minus the horizon), so each file
    from the third on carries ``late_rows_per_chunk`` rows three to five hours
    older than that maximum; the bounded stream must drop exactly these.
    ``probe_dir`` gets the first file's rows (the batch slice the dispatch
    probes) and ``admitted_dir`` every real row the lateness contract admits,
    each as ``events.parquet``."""
    rng = np.random.default_rng([*_seq(seed), 4])
    n, k = spec["events"], spec["chunks"]
    ts_us, user_id, type_idx, value = _generic_events(rng, n, spec["users"], spec["days"], spec["zipf_s"])
    ts_us = ts_us.copy()
    bounds = np.linspace(0, n, k + 1).astype(int)
    event_id = np.arange(1, n + 1)
    hour_us = 3_600_000_000
    late_ids: list[int] = []
    maxes: list[int] = []  # max event time of files 0..c
    os.makedirs(src_dir, exist_ok=True)
    base_mtime = 1_700_000_000
    for c in range(k):
        idx = np.arange(bounds[c], bounds[c + 1])
        if c >= 1:
            dis = rng.permutation(idx)[: int(len(idx) * spec["disorder_share"])]
            ts_us[dis] = maxes[-1] - rng.integers(0, hour_us, size=len(dis))
            if c >= 2:
                late = rng.permutation(np.setdiff1d(idx, dis))[: spec["late_rows_per_chunk"]]
                ts_us[late] = maxes[-2] - rng.integers(3 * hour_us, 5 * hour_us, size=len(late))
                late_ids.extend(int(event_id[i]) for i in late)
        maxes.append(max(int(ts_us[idx].max()), maxes[-1] if maxes else 0))
        order = rng.permutation(idx)
        path = os.path.join(src_dir, f"chunk_{c:03d}.parquet")
        pq.write_table(_events_table(event_id[order], ts_us[order], user_id[order],
                                     type_idx[order], value[order]), path)
        os.utime(path, (base_mtime + c, base_mtime + c))
    path = os.path.join(src_dir, f"chunk_{k:03d}_sentinel.parquet")
    far = maxes[-1] + 3650 * 24 * hour_us
    pq.write_table(_events_table([n + 1], [far], [1], [1], [1.0]), path)
    os.utime(path, (base_mtime + k, base_mtime + k))
    first = np.arange(bounds[0], bounds[1])
    admitted = np.setdiff1d(np.arange(n), np.array(late_ids, dtype=int) - 1)
    for d, idx in ((probe_dir, first), (admitted_dir, admitted)):
        os.makedirs(d, exist_ok=True)
        pq.write_table(_events_table(event_id[idx], ts_us[idx], user_id[idx], type_idx[idx], value[idx]),
                       os.path.join(d, "events.parquet"))
    return {"events": n, "late_ids": late_ids, "max_real_ts_us": maxes[-1]}


# -- corpus_curation: documents + embeddings ---------------------------------

CORPUS = {
    "docs": 1500,
    "vocab": 3000,
    "min_words": 20,
    "max_words": 120,
    "short_share": 0.05,
    "near_dup_share": 0.1,
    "vectors": 3000,
    "dim": 64,
    "clusters": 48,
    "noise": 0.35,
}


def corpus(sf_dir: str, seed, spec: dict = CORPUS) -> dict:
    """Write ``documents.parquet`` and ``embeddings.parquet``.

    Documents are random word sequences over a fixed vocabulary, so unplanted
    pairs share almost no shingles. ``short_share`` of them have fewer than
    ten words (the quality gate drops them). ``near_dup_share`` of the
    corpus is planted near-duplicates: a copy of an earlier long document
    with its last word removed, so the original is the longest member of its
    cluster and the copy must be removed. Embeddings are noisy points around
    ``clusters`` random centres, which gives the approximate top-k searches
    real neighbourhoods."""
    rng = np.random.default_rng([*_seq(seed), 5])
    vocab = [f"w{i}" for i in range(spec["vocab"])]
    n = spec["docs"]
    n_dup = round(n * spec["near_dup_share"])
    n_orig = n - n_dup
    texts: list[str] = []
    short: set[int] = set()
    for i in range(n_orig):
        if rng.random() < spec["short_share"]:
            length = int(rng.integers(3, 9))
            short.add(i)
        else:
            length = int(rng.integers(spec["min_words"], spec["max_words"]))
        texts.append(" ".join(vocab[j] for j in rng.integers(0, spec["vocab"], size=length)))
    long_ids = [i for i in range(n_orig) if i not in short]
    srcs = rng.choice(long_ids, size=n_dup, replace=False)
    for s in srcs:
        texts.append(texts[s].rsplit(" ", 1)[0])
    doc_ids = rng.permutation(np.arange(1, n + 1))  # doc_id by position
    dup_ids = [int(doc_ids[n_orig + j]) for j in range(n_dup)]
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(doc_ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * n, pa.string()),
                "source": pa.array(["bench"] * n, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(sf_dir, "documents.parquet"),
    )
    d, m = spec["dim"], spec["vectors"]
    centres = rng.normal(size=(spec["clusters"], d))
    label = rng.integers(0, spec["clusters"], size=m)
    vecs = (centres[label] + spec["noise"] * rng.normal(size=(m, d))).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(m), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(label, pa.int32()),
            }
        ),
        os.path.join(sf_dir, "embeddings.parquet"),
    )
    return {
        "docs": n,
        "short_docs": len(short),
        "near_dup_ids": dup_ids,
        "expected_after_quality": n - len(short),
        "expected_after_dedup": n - len(short) - n_dup,
        "vectors": m,
    }
