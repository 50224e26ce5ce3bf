"""Seeded input generators for the perfbench workloads.

Every generator is a pure function of its seed and size arguments:
the same seed gives byte-identical inputs. Each also returns what the
program should make of those inputs (expected survivors, planted
duplicate counts), which the output checks compare against.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from collections import Counter

VISION_TOPIC = "cuip_vision_events"
AIR_TOPICS = [
    "MLK_CENTRAL_AIR_QUALITY",
    "MLK_DOUGLAS_AIR_QUALITY",
    "MLK_GEORGIA_AIR_QUALITY",
    "MLK_HOUSTON_AIR_QUALITY",
    "MLK_LINDSAY_AIR_QUALITY",
    "MLK_MAGNOLIA_AIR_QUALITY",
    "MLK_PEEPLES_AIR_QUALITY",
]
# Every message goes to one of the 8 topics with equal probability: the
# reference config lists the topics and FIXTURES.md gives no traffic
# mix, so no topic is favoured (vision is 1/8 of the messages).
TOPICS = [VISION_TOPIC, *AIR_TOPICS]
CAMERAS = [
    "mlk-central-cam-1",
    "mlk-central-cam-2",
    "mlk-douglas-cam-1",
    "mlk-houston-cam-1",
]
LABELS = ["car", "bus", "truck", "person", "bicycle"]

# Drift shares of FIXTURES.md B1/B2.
SHARE_NO_TS = 0.05
SHARE_TS_ZERO = 0.01
SHARE_NO_HITS = 0.20
SHARE_NULL_NICENAME = 0.05
SHARE_MONTH_EDGE = 0.02
SHARE_CORRUPT = 0.002  # JSON lines missing their opening brace


def _ms(y: int, m: int, d: int) -> int:
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp() * 1000)


TS_LO = _ms(2024, 1, 1)
TS_HI = _ms(2024, 4, 1)
MONTH_EDGES = [
    _ms(2024, 2, 1),
    _ms(2024, 2, 1) - 1,
    _ms(2024, 3, 1),
    _ms(2024, 3, 1) - 1,
]


def month_of(ts_ms: int) -> tuple[int, int]:
    t = dt.datetime.fromtimestamp(ts_ms / 1000, tz=dt.timezone.utc)
    return t.year, t.month


def config_yaml() -> str:
    """The reference config shape: one kafka entry with 8 topics."""
    topics = "\n".join(f"        - {t}" for t in TOPICS)
    return (
        "kafka:\n"
        "    - bootstrap-servers: localhost:9092\n"
        "      group-id: perfbench\n"
        f"      topics:\n{topics}\n"
    )


def _draw_ts(rng: random.Random) -> int | None:
    u = rng.random()
    if u < SHARE_NO_TS:
        return None
    if u < SHARE_NO_TS + SHARE_TS_ZERO:
        return 0
    if u < SHARE_NO_TS + SHARE_TS_ZERO + SHARE_MONTH_EDGE:
        return rng.choice(MONTH_EDGES)
    return rng.randrange(TS_LO, TS_HI)


def _vision_msg(rng: random.Random, ts: int | None, camera: str) -> dict:
    locs = [
        {"x": round(rng.uniform(0, 1920), 2), "y": round(rng.uniform(0, 1080), 2),
         "label": rng.choice(LABELS)}
        for _ in range(rng.randrange(0, 5))
    ]
    msg: dict = {}
    if ts is not None:
        msg["timestamp"] = ts
    msg["camera_id"] = camera
    msg["locations"] = locs
    if rng.random() >= SHARE_NO_HITS:
        msg["hit_counts"] = len(locs)
    return msg


def _air_msg(rng: random.Random, ts: int | None, nicename: str | None) -> dict:
    msg: dict = {}
    if ts is not None:
        msg["timestamp"] = ts
    msg["nicename"] = nicename
    msg["pm2_5"] = round(rng.uniform(0, 80), 2)
    msg["pm10"] = round(rng.uniform(0, 150), 2)
    msg["temperature"] = round(rng.uniform(-5, 38), 2)
    msg["humidity"] = round(rng.uniform(10, 100), 2)
    return msg


def _encode(msg: dict, corrupt: bool) -> str:
    line = json.dumps(msg)
    return line[1:] if corrupt else line


def iot_messages(seed: int, n: int) -> dict:
    """JSON lines for the 8 reference topics.

    Returns {"lines": {topic: [line, ...]}, "expected": Counter of
    survivors keyed (family, entity, year, month), "planted": shares}.
    """
    rng = random.Random(seed)
    lines: dict[str, list[str]] = {t: [] for t in TOPICS}
    expected: Counter = Counter()
    planted: Counter = Counter()
    for _ in range(n):
        ts = _draw_ts(rng)
        planted["no_timestamp" if ts is None else "timestamp_zero" if ts == 0 else
                "month_edge" if ts in MONTH_EDGES else "regular_ts"] += 1
        keep = ts is not None and ts != 0
        corrupt = rng.random() < SHARE_CORRUPT
        planted["corrupt"] += corrupt
        keep = keep and not corrupt
        topic = rng.randrange(len(TOPICS))
        if topic == 0:
            cam = rng.choice(CAMERAS)
            msg = _vision_msg(rng, ts, cam)
            planted["no_hit_counts"] += "hit_counts" not in msg
            lines[VISION_TOPIC].append(_encode(msg, corrupt))
            if keep:
                expected[("vision", cam, *month_of(ts))] += 1
        else:
            i = topic - 1
            nicename = None if rng.random() < SHARE_NULL_NICENAME else f"sensor-{i}"
            planted["null_nicename"] += nicename is None
            lines[AIR_TOPICS[i]].append(_encode(_air_msg(rng, ts, nicename), corrupt))
            if keep and nicename is not None:
                expected[("air", nicename, *month_of(ts))] += 1
    return {
        "lines": lines,
        "expected": expected,
        "planted": {k: round(v / n, 4) for k, v in sorted(planted.items())},
    }


def write_topics(root: str, lines: dict[str, list[str]]) -> int:
    """Write ``<root>/<topic>.jsonl`` per topic; returns bytes written."""
    os.makedirs(root, exist_ok=True)
    total = 0
    for topic, rows in lines.items():
        data = ("\n".join(rows) + "\n").encode()
        with open(os.path.join(root, f"{topic}.jsonl"), "wb") as fh:
            fh.write(data)
        total += len(data)
    return total


# --------------------------------------------------------------------------
# stream_offload: a drop schedule of JSON-lines files
# --------------------------------------------------------------------------

STREAM_BASE_MS = _ms(2024, 6, 1)
STREAM_OUT_OF_ORDER = 0.03  # event time pulled back, inside the watermark
STREAM_REDELIVERED = 0.03  # verbatim copies of recent earlier messages
STREAM_LATE_PER_FILE = 1  # far behind the watermark, second half only
STREAM_WATERMARK = "30 seconds"


def stream_schedule(seed: int, files: int, rate: float, msgs_per_file: int) -> dict:
    """Files to drop at ``i / rate`` seconds. Each message's event time
    falls in the interval before its file's drop offset from
    STREAM_BASE_MS, a few of them pulled back by a further 1-5 s (out
    of order, inside the watermark). A share of
    each file re-sends recent earlier messages verbatim (redelivery),
    and files in the second half carry one message ten minutes behind
    (late: the dedup's watermark may drop it). (camera_id, timestamp)
    is unique per distinct message.

    Returns {"files": [(due_s, [line, ...])], "distinct": set of keys
    that must arrive, "late": set of late keys, "planted": counts}.
    """
    rng = random.Random(seed)
    used: set[tuple[str, int]] = set()
    recent: list[str] = []
    out, distinct, late = [], set(), set()
    planted = Counter()

    def fresh_key(cam: str, ts: int) -> int:
        while (cam, ts) in used:
            ts += 1
        used.add((cam, ts))
        return ts

    for i in range(files):
        due = i / rate
        rows = []
        for _ in range(msgs_per_file):
            if recent and rng.random() < STREAM_REDELIVERED:
                rows.append(rng.choice(recent[-4 * msgs_per_file:]))
                planted["redelivered"] += 1
                continue
            ts = STREAM_BASE_MS + int(due * 1000) - rng.randrange(0, int(1000 / rate))
            if rng.random() < STREAM_OUT_OF_ORDER:
                ts -= rng.randrange(1000, 5000)
                planted["out_of_order"] += 1
            cam = rng.choice(CAMERAS)
            ts = fresh_key(cam, ts)
            line = json.dumps(_vision_msg(rng, ts, cam))
            rows.append(line)
            recent.append(line)
            distinct.add((cam, ts))
            planted["distinct"] += 1
        if i >= files // 2:
            for _ in range(STREAM_LATE_PER_FILE):
                cam = rng.choice(CAMERAS)
                ts = fresh_key(cam, STREAM_BASE_MS + int(due * 1000) - 600_000)
                rows.append(json.dumps(_vision_msg(rng, ts, cam)))
                late.add((cam, ts))
                planted["late"] += 1
        out.append((due, rows))
    return {"files": out, "distinct": distinct, "late": late, "planted": dict(planted)}
