"""Seeded input generators for the four workloads.

Every generator draws from one ``numpy.random.Generator`` seeded by the
run's ``--seed`` and writes plain files (parquet via pyarrow, JSON lines)
that the program then reads itself, so the same seed gives byte-identical
inputs and a different seed gives different ones.  Each returns the
generated properties that the run output records.

Event-time design (content events): micro-batch file ``b`` covers the
event-time span ``[T0 + b*span, T0 + (b+1)*span)``.  Out-of-order events
move back by less than the gold watermark (10 s), so the stream never
drops them; late events move back by more than two spans, so the gold
aggregation drops them under either of Spark's watermark rules (the
previous batch's or the one before).  Late events start at batch 3, once
a watermark exists under both rules.  Duplicate deliveries repeat an
event later in the same file.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_MS = 1_717_200_000_000  # 2024-06-01 00:00:00 UTC
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EVENT_TYPE_P = (0.70, 0.15, 0.05, 0.03, 0.07)
WATERMARK_MS = 10_000  # gold_window_agg_stream's default watermark
OOO_MAX_MS = 8_000  # out-of-order displacement, inside the watermark
LATE_FROM_BATCH = 3
COUNTRIES = ("US", "UK", "JP", "BR", "DE", "FR", "IN")
DEVICES = ("iOS", "Android")
SEGMENTS = ("Standard", "High_Potential", "VIP")
#: Video popularity skew of the reference's content generator (Zipf
#: s=1.5); its users are uniform over the pool.  The CDC stream's hot
#: keys reuse the same exponent, the only skew the reference documents.
VIDEO_ZIPF_S = 1.5
CDC_ZIPF_S = 1.5
N_USERS, N_VIDEOS = 20_000, 5_000
#: CDC op mix: the reference generator emits creates and updates plus
#: ops the SCD1 job's ``op IN ('c', 'u')`` filter must drop ("x" here).
CDC_OP_MIX = {"c": 0.10, "u": 0.88, "x": 0.02}
CDC_PARTIAL_NULL_P = 0.3
#: mtime spacing for stream input files: the file source replays them in
#: modification-time order, so batch order is the generation order.
_MTIME_BASE = 1_700_000_000


def zipf_p(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def _ids(prefix: str, idx: np.ndarray, width: int = 6) -> pa.Array:
    return pa.array([f"{prefix}{i:0{width}d}" for i in idx.tolist()], pa.string())


def _ts(ms: np.ndarray) -> pa.Array:
    return pa.array(ms.astype("int64") * 1000, pa.timestamp("us", tz="UTC"))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _stamp(paths: list[str]) -> None:
    for i, p in enumerate(paths):
        os.utime(p, (_MTIME_BASE + i, _MTIME_BASE + i))


def key_skew(keys: np.ndarray, n_keys: int) -> dict:
    counts = np.sort(np.bincount(keys, minlength=n_keys))[::-1]
    top = max(1, n_keys // 100)
    return {
        "top1pct_key_share": round(float(counts[:top].sum() / counts.sum()), 4),
        "top_key_share": round(float(counts[0] / counts.sum()), 4),
    }


def content_events(out_dir: str, seed: int, n_files: int, per_file: int,
                   span_s: int = 900, n_users: int = N_USERS, n_videos: int = N_VIDEOS,
                   ooo_share: float = 0.3, late_share: float = 0.02,
                   dup_share: float = 0.01) -> dict:
    """One parquet file per micro-batch in ``out_dir`` (content-event
    schema of ``schemas.CONTENT_EVENT_SCHEMA``)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    span_ms = span_s * 1000
    video_p = zipf_p(n_videos, VIDEO_ZIPF_S)
    paths, all_users, all_videos = [], [], []
    n_ooo = n_late = n_dup = n_total = 0
    for b in range(n_files):
        n = per_file
        ts = T0_MS + b * span_ms + np.sort(rng.integers(0, span_ms, n))
        u = rng.random(n)
        ooo = u < ooo_share
        ts[ooo] -= rng.integers(1, OOO_MAX_MS, int(ooo.sum()))
        late = (u >= ooo_share) & (u < ooo_share + late_share) & (b >= LATE_FROM_BATCH)
        ts[late] -= rng.integers(2 * span_ms + 120_000, 3 * span_ms, int(late.sum()))
        users = rng.integers(0, n_users, n)
        videos = rng.choice(n_videos, n, p=video_p)
        etype = rng.choice(len(EVENT_TYPES), n, p=EVENT_TYPE_P)
        watch = np.where(etype == 0, rng.integers(500, 60_000, n), -1)
        device = rng.integers(0, len(DEVICES), n)
        # duplicate deliveries: a copy lands later in the same file
        dup = np.flatnonzero(rng.random(n) < dup_share)
        order_key = np.concatenate([
            np.arange(n, dtype=np.float64),
            dup + rng.uniform(0.5, n - dup + 0.5),
        ])
        rows = np.concatenate([np.arange(n), dup])[np.argsort(order_key, kind="stable")]
        payload = pa.StructArray.from_arrays(
            [
                pa.array([int(w) if w >= 0 else None for w in watch[rows].tolist()], pa.int64()),
                pa.array([DEVICES[d] for d in device[rows].tolist()], pa.string()),
                pa.array(["14.%d" % (d % 3) for d in videos[rows].tolist()], pa.string()),
                pa.array(["wifi" if d else "5g" for d in device[rows].tolist()], pa.string()),
            ],
            names=["watch_time_ms", "device_os", "app_version", "network_type"],
        )
        table = pa.table({
            "event_id": _ids(f"e{b:05d}-", rows),
            "event_timestamp": _ts(ts[rows]),
            "video_id": _ids("v", videos[rows]),
            "user_id": _ids("u", users[rows]),
            "event_type": pa.array([EVENT_TYPES[e] for e in etype[rows].tolist()], pa.string()),
            "payload": payload,
        })
        path = os.path.join(out_dir, f"batch-{b:05d}.parquet")
        _write(table, path)
        paths.append(path)
        all_users.append(users[rows])
        all_videos.append(videos[rows])
        n_ooo += int(ooo[rows].sum())
        n_late += int(late[rows].sum())
        n_dup += len(dup)
        n_total += len(rows)
    _stamp(paths)
    return {
        "files": n_files,
        "events": n_total,
        "events_per_file": per_file,
        "event_time_span_h": round(n_files * span_s / 3600.0, 3),
        "out_of_order_share": round(n_ooo / n_total, 4),
        "late_share": round(n_late / n_total, 4),
        "duplicate_share": round(n_dup / n_total, 4),
        "user_skew": key_skew(np.concatenate(all_users), n_users),
        "video_skew": key_skew(np.concatenate(all_videos), n_videos),
        "video_zipf_s": VIDEO_ZIPF_S,
    }


def _user_rows(rng, keys) -> list[dict]:
    n = len(keys)
    country = rng.integers(len(COUNTRIES), size=n).tolist()
    device = rng.integers(len(DEVICES), size=n).tolist()
    creator = (rng.random(n) < 0.1).tolist()
    segment = rng.integers(len(SEGMENTS), size=n).tolist()
    stamp = rng.integers(0, 365 * 24 * 60, size=n).tolist()
    return [
        {
            "user_id": f"u{k:06d}",
            "register_country": COUNTRIES[c],
            "device_os": DEVICES[d],
            "is_creator": cr,
            "ltv_segment": SEGMENTS[sg],
            "join_at": "2023-%02d-%02dT%02d:%02d:00" % (
                1 + m // (28 * 24 * 60) % 12, 1 + m // (24 * 60) % 28,
                m // 60 % 24, m % 60),
        }
        for k, c, d, cr, sg, m in zip(keys, country, device, creator, segment, stamp)
    ]


def _envelope(op: str, ts_ms: int, after: dict | None) -> str:
    return json.dumps({"op": op, "ts_ms": ts_ms, "after": after}, separators=(",", ":"))


def cdc_feed(out_dir: str, seed: int, n_keys: int, n_batches: int, per_batch: int,
             bootstrap_dir: str | None = None) -> dict:
    """Debezium-style ``cdc.users.profiles`` envelopes: an optional
    bootstrap file of ``c`` rows for ``n_keys`` users (the dimension's
    initial load) in ``bootstrap_dir``, then ``n_batches`` JSON-lines
    files of ``per_batch`` envelopes in ``out_dir`` with the
    :data:`CDC_OP_MIX` and Zipf-hot keys that repeat inside a batch."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    ts = T0_MS
    if bootstrap_dir is not None:
        os.makedirs(bootstrap_dir, exist_ok=True)
        path = os.path.join(bootstrap_dir, "bootstrap.json")
        with open(path, "w") as fh:
            for row in _user_rows(rng, range(n_keys)):
                fh.write(_envelope("c", ts, row) + "\n")
        os.utime(path, (_MTIME_BASE - 1, _MTIME_BASE - 1))
    ops = list(CDC_OP_MIX)
    op_p = list(CDC_OP_MIX.values())
    key_p = zipf_p(n_keys, CDC_ZIPF_S)
    next_key = n_keys
    counts = dict.fromkeys(ops, 0)
    repeats = 0
    # distinct keys each commit upserts (bootstrap included): the
    # denominator of tablefmt.rows_written_per_row_changed
    keys_upserted = n_keys if bootstrap_dir is not None else 0
    paths = []
    for b in range(n_batches):
        batch_ops = rng.choice(len(ops), per_batch, p=op_p)
        hot = rng.choice(n_keys, per_batch, p=key_p)
        rows = _user_rows(rng, range(per_batch))
        nulls = rng.random((per_batch, 5)) < CDC_PARTIAL_NULL_P
        keys = []
        lines = []
        upserted = set()
        for i, o in enumerate(batch_ops.tolist()):
            op = ops[o]
            ts += 1
            counts[op] += 1
            if op == "c":
                key = next_key
                next_key += 1
            else:
                key = int(hot[i])
            after = {**rows[i], "user_id": f"u{key:06d}"}
            if op == "u":
                for j, col in enumerate(("register_country", "device_os", "is_creator",
                                         "ltv_segment", "join_at")):
                    if nulls[i, j]:
                        after[col] = None
            keys.append(key)
            if op in ("c", "u"):
                upserted.add(key)
            lines.append(_envelope(op, ts, after))
        _, inv, cnt = np.unique(np.array(keys), return_inverse=True, return_counts=True)
        repeats += int((cnt[inv] > 1).sum())
        keys_upserted += len(upserted)
        path = os.path.join(out_dir, f"batch-{b:05d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        paths.append(path)
    _stamp(paths)
    total = n_batches * per_batch
    return {
        "bootstrap_keys": n_keys if bootstrap_dir is not None else 0,
        "batches": n_batches,
        "envelopes_per_batch": per_batch,
        "op_mix": {k: round(v / total, 4) for k, v in counts.items()},
        "hot_key_repeat_share": round(repeats / total, 4),
        "keys_upserted": keys_upserted,
        "table_rows_per_batch_row": round(n_keys / per_batch, 1),
        "key_skew_zipf_s": CDC_ZIPF_S,
    }


def medallion_inputs(out_dir: str, seed: int, n_events: int, n_files: int = 4,
                     n_users: int = 5_000, n_orders: int = 20_000,
                     day_s: int = 86_400, bad_share: float = 0.01) -> dict:
    """Bronze events (``bronze/``), the user dimension timeline
    (``dim_timeline/``) and order events (``orders/``) for one T+1 day."""
    rng = np.random.default_rng([seed, 3])
    # bronze: quality rule violations (null user, unknown type) planted
    bronze = os.path.join(out_dir, "bronze")
    os.makedirs(bronze, exist_ok=True)
    per = n_events // n_files
    users_all = []
    n_bad = 0
    for f in range(n_files):
        idx = np.arange(f * per, (f + 1) * per)
        users = rng.integers(0, n_users, per)
        ts = T0_MS + rng.integers(0, day_s * 1000, per)
        etype = rng.choice(len(EVENT_TYPES), per, p=EVENT_TYPE_P)
        bad = rng.random(per)
        null_user = bad < bad_share / 2
        unknown = (bad >= bad_share / 2) & (bad < bad_share)
        n_bad += int(null_user.sum() + unknown.sum())
        users_all.append(users)
        table = pa.table({
            "event_id": _ids("b", idx, 8),
            "ts": _ts(ts),
            "user_id": pa.array([None if nu else f"u{u:06d}" for u, nu in
                                 zip(users.tolist(), null_user.tolist())], pa.string()),
            "event_type": pa.array(["unknown" if un else EVENT_TYPES[e] for e, un in
                                    zip(etype.tolist(), unknown.tolist())], pa.string()),
            "value": pa.array(np.round(rng.exponential(10.0, per), 3)),
        })
        _write(table, os.path.join(bronze, f"part-{f:03d}.parquet"))
    # dim timeline: 1-3 changes per user, unique (user_id, t_ts), some nulls
    tl_user, tl_ts, tl_seg, tl_tier = [], [], [], []
    for u in range(n_users):
        k = int(rng.integers(1, 4))
        offs = rng.choice(2 * day_s, k, replace=False) * 1000
        for o in np.sort(offs).tolist():
            tl_user.append(u)
            tl_ts.append(T0_MS - day_s * 1000 + o)
            tl_seg.append(None if rng.random() < 0.1 else SEGMENTS[int(rng.integers(3))])
            tl_tier.append(None if rng.random() < 0.1 else int(rng.integers(1, 4)))
    dim_dir = os.path.join(out_dir, "dim_timeline")
    os.makedirs(dim_dir, exist_ok=True)
    _write(pa.table({
        "user_id": _ids("u", np.array(tl_user)),
        "t_ts": _ts(np.array(tl_ts)),
        "segment": pa.array(tl_seg, pa.string()),
        "tier": pa.array(tl_tier, pa.int32()),
    }), os.path.join(dim_dir, "part-000.parquet"))
    # orders: CREATED carries amount/currency/items, later events only status
    nxt = {"CREATED": ("PAID", "CANCELLED"), "PAID": ("SHIPPED", "RETURNED")}
    o_rows = {k: [] for k in ("event_id", "event_type", "event_timestamp", "order_id",
                              "user_id", "total_amount", "currency", "payment_method",
                              "items", "current_status")}
    eid = 0
    t0_s = T0_MS // 1000
    order_users = rng.integers(0, n_users, n_orders)
    for o in range(n_orders):
        t = t0_s + int(rng.integers(0, day_s))
        status = "CREATED"
        first = True
        while True:
            o_rows["event_id"].append(f"o{eid:08d}")
            eid += 1
            o_rows["event_type"].append("order_created" if first else "status_changed")
            o_rows["event_timestamp"].append(t)
            o_rows["order_id"].append(f"ord{o:07d}")
            o_rows["user_id"].append(f"u{int(order_users[o]):06d}" if first else None)
            if first:
                items = [{"sku": f"sku{int(rng.integers(1000)):04d}",
                          "quantity": int(rng.integers(1, 4)),
                          "unit_price": float(rng.integers(100, 10_000)) / 100,
                          "category": "cat%d" % int(rng.integers(7))}
                         for _ in range(int(rng.integers(1, 4)))]
                o_rows["total_amount"].append(
                    round(sum(i["quantity"] * i["unit_price"] for i in items), 2))
                o_rows["currency"].append("USD")
                o_rows["payment_method"].append(("card", "wallet", "bank")[int(rng.integers(3))])
                o_rows["items"].append(items)
            else:
                for c in ("total_amount", "currency", "payment_method", "items"):
                    o_rows[c].append(None)
            o_rows["current_status"].append(status)
            first = False
            if status not in nxt or rng.random() < 0.3:
                break
            status = nxt[status][int(rng.integers(2))]
            t += int(rng.integers(1, 3600))
    item_t = pa.list_(pa.struct([("sku", pa.string()), ("quantity", pa.int32()),
                                 ("unit_price", pa.float64()), ("category", pa.string())]))
    orders_dir = os.path.join(out_dir, "orders")
    os.makedirs(orders_dir, exist_ok=True)
    _write(pa.table({
        **{c: pa.array(o_rows[c], pa.string()) for c in ("event_id", "event_type")},
        "event_timestamp": pa.array(o_rows["event_timestamp"], pa.int64()),
        **{c: pa.array(o_rows[c], pa.string()) for c in ("order_id", "user_id")},
        "total_amount": pa.array(o_rows["total_amount"], pa.float64()),
        **{c: pa.array(o_rows[c], pa.string()) for c in ("currency", "payment_method")},
        "items": pa.array(o_rows["items"], item_t),
        "current_status": pa.array(o_rows["current_status"], pa.string()),
    }), os.path.join(orders_dir, "part-000.parquet"))
    return {
        "bronze_events": per * n_files,
        "quality_violation_share": round(n_bad / (per * n_files), 4),
        "event_time_span_h": round(day_s / 3600.0, 3),
        "user_skew": key_skew(np.concatenate(users_all), n_users),
        "dim_timeline_rows": len(tl_user),
        "order_events": eid,
        "orders": n_orders,
    }
