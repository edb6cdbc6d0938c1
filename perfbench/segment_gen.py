"""Deterministic Segment-Spec NDJSON.gz batches for the ingest and lake
benchmarks, plus the counts each batch plants (the expected outputs).

A batch is a directory of gzip files, one JSON event per line. It holds
all six Segment event types with nested ``context``/``properties``/
``traits`` objects, fixed-length arrays, track events spread over a
chosen number of event names, planted type conflicts that must land in
the ``misfits`` table, replayed duplicates of an earlier batch and
corrupt lines. The same arguments always give byte-identical files:
every value comes from ``random.Random(seed)`` and gzip headers carry
no timestamp or file name.

Arrays keep one length per key. A ragged or empty array fails
``sources.flatten`` under Spark's ANSI mode (``element_at`` past the
end raises INVALID_ARRAY_INDEX_IN_ELEMENT_AT), a known gap of the
program that this generator deliberately avoids.
"""

from __future__ import annotations

import gzip
import json
import os
import random
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

BASE_TIME = datetime(2026, 1, 5, tzinfo=timezone.utc)
SPAN_DAYS = 2
#: one read task per core of a local[4] session
FILES_PER_BATCH = 4
_VERBS = ("Viewed", "Clicked", "Added", "Removed", "Shared", "Rated", "Opened", "Closed")
_NOUNS = ("Product", "Cart", "Coupon", "Banner", "Review", "Video", "Wishlist", "Offer")
_PLANS = ("free", "basic", "pro", "team", "enterprise")
_CHANNELS = ("web", "mobile", "server")
_TYPE_MIX = (("identify", 6), ("page", 6), ("screen", 5), ("group", 2), ("alias", 1))
MISFIT_VALUE = "n/a"


def event_names(n: int) -> list[str]:
    """The first ``n`` display names, e.g. "Product Viewed"."""
    names = [f"{noun} {verb}" for verb in _VERBS for noun in _NOUNS]
    if n > len(names):
        raise ValueError(f"at most {len(names)} event names")
    return names[:n]


def table_name(display: str) -> str:
    """The per-event table a display name lands in ("Cart Viewed" ->
    "cart_viewed"): spaces dropped, then decamelized."""
    return "_".join(w.lower() for w in display.split())


@dataclass
class Batch:
    """What one generated batch holds, for checking the ingest output."""

    path: str
    events: int = 0
    input_bytes: int = 0
    corrupt_lines: int = 0
    misfit_rows: int = 0
    by_type: Counter = field(default_factory=Counter)
    by_event: Counter = field(default_factory=Counter)
    #: (event table, timestamp, message_id) of every track event
    track_keys: list[tuple[str, str, str]] = field(default_factory=list)
    #: (type, timestamp, message_id) of every event
    keys: list[tuple[str, str, str]] = field(default_factory=list)
    #: (user_id, timestamp, message_id, plan) of every identify
    identifies: list[tuple[str, str, str, str]] = field(default_factory=list)


def _iso(t: datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


def _properties(rng: random.Random, name_idx: int) -> dict:
    """Each event name has its own fixed property set; keys overlap
    between names and every key keeps one JSON type."""
    props: dict = {"sku": f"SKU-{rng.randrange(5000):04d}", "price": rng.randrange(100, 99999) / 100}
    if name_idx % 2 == 0:
        props["quantity"] = rng.randrange(1, 9)
        props["tags"] = [rng.choice(("new", "sale", "gift", "bulk")), rng.choice(("a", "b", "c"))]
    if name_idx % 3 == 0:
        props["items"] = [
            {"sku": f"SKU-{rng.randrange(5000):04d}", "qty": rng.randrange(1, 5)} for _ in range(2)
        ]
    if name_idx % 4 == 1:
        props["inStock"] = rng.random() < 0.5
        props["currency"] = rng.choice(("USD", "EUR", "GBP"))
    props[f"detail{name_idx}"] = rng.randrange(1000)
    return props


def _context(rng: random.Random) -> dict:
    return {
        "app": {"version": rng.choice(("1.2.3", "1.3.0", "2.0.1")), "build": rng.randrange(100, 400)},
        "device": {"type": rng.choice(("ios", "android", "desktop")), "model": f"M{rng.randrange(20)}"},
        "library": {"name": "analytics.js", "version": "4.1.0"},
        "locale": rng.choice(("en-US", "de-DE", "fr-FR")),
        "screen": {"width": rng.choice((390, 1280, 1920)), "height": rng.choice((844, 800, 1080))},
    }


def write_batch(
    path: str,
    seed: int,
    batch_no: int,
    n_events: int,
    n_names: int,
    n_users: int,
    corrupt_lines: int = 0,
    misfit_rows: int = 0,
    replay: list[str] | None = None,
) -> tuple[Batch, list[str]]:
    """Write one batch to ``path``; return its plan and its lines.

    ``n_events`` events are generated, about 3/4 of them track events.
    ``misfit_rows`` track events of the first event name carry a
    non-numeric ``price``; the column is numeric in every batch without
    misfits, so those values must be quarantined. ``replay`` lines (from
    an earlier batch) are appended verbatim, planting duplicates.
    """
    rng = random.Random(seed * 1_000_003 + batch_no)
    names = event_names(n_names)
    batch = Batch(path=path)
    lines: list[str] = []
    start = BASE_TIME + timedelta(days=batch_no)
    step = timedelta(seconds=SPAN_DAYS * 86400 / max(n_events, 1))
    kinds = [k for k, w in _TYPE_MIX for _ in range(w)]
    misfits_left = misfit_rows
    for i in range(n_events):
        ts = start + step * i + timedelta(milliseconds=rng.randrange(1000))
        uid = rng.randrange(n_users)
        kind = "track" if rng.random() < 0.75 else rng.choice(kinds)
        ev: dict = {
            "messageId": f"m-{batch_no}-{i:07d}",
            "anonymousId": f"a-{uid}",
            "userId": f"u-{uid:05d}",
            "type": kind,
            "timestamp": _iso(ts),
            "sentAt": _iso(ts),
            "receivedAt": _iso(ts + timedelta(seconds=1)),
            "channel": rng.choice(_CHANNELS),
            "writeKey": f"wk-{uid % 3}",
            "context": _context(rng),
        }
        if kind == "track":
            # every name appears in every batch: names cycle, the rest
            # of the index is random
            idx = i % n_names if i < n_names else rng.randrange(n_names)
            ev["event"] = names[idx]
            ev["properties"] = _properties(rng, idx)
            if idx == 0 and misfits_left:
                ev["properties"]["price"] = MISFIT_VALUE
                misfits_left -= 1
            batch.by_event[table_name(names[idx])] += 1
            batch.track_keys.append((table_name(names[idx]), ev["timestamp"], ev["messageId"]))
        elif kind == "identify":
            plan = rng.choice(_PLANS)
            ev["traits"] = {
                "email": f"u{uid}@example.com",
                "plan": plan,
                "age": rng.randrange(18, 80),
                "address": {"city": rng.choice(("Oslo", "Lima", "Pune")), "country": rng.choice(("NO", "PE", "IN"))},
            }
            batch.identifies.append((ev["userId"], ev["timestamp"], ev["messageId"], plan))
        elif kind == "page":
            ev["name"] = rng.choice(("Home", "Pricing", "Docs"))
            ev["properties"] = {"url": f"https://shop.example/p/{rng.randrange(300)}", "referrer": "", "title": "Shop"}
        elif kind == "screen":
            ev["name"] = rng.choice(("Home", "Feed", "Settings"))
            ev["properties"] = {"variant": rng.choice(("a", "b")), "scroll": rng.randrange(100)}
        elif kind == "group":
            ev["groupId"] = f"g-{uid % 50}"
            ev["traits"] = {"company": f"Co{uid % 50}", "employees": rng.randrange(1, 5000)}
        else:
            ev["previousId"] = f"a-{uid}"
        batch.events += 1
        batch.by_type[kind] += 1
        batch.keys.append((kind, ev["timestamp"], ev["messageId"]))
        lines.append(json.dumps(ev, separators=(",", ":")))
    if misfits_left:
        raise ValueError("too few events of the first name to plant misfits")
    batch.misfit_rows = misfit_rows

    originals = list(lines)
    for line in replay or ():
        ev = json.loads(line)
        batch.events += 1
        batch.by_type[ev["type"]] += 1
        batch.keys.append((ev["type"], ev["timestamp"], ev["messageId"]))
        if ev["type"] == "track":
            batch.by_event[table_name(ev["event"])] += 1
            batch.track_keys.append((table_name(ev["event"]), ev["timestamp"], ev["messageId"]))
        elif ev["type"] == "identify":
            batch.identifies.append((ev["userId"], ev["timestamp"], ev["messageId"], ev["traits"]["plan"]))
        lines.append(line)
    for j in range(corrupt_lines):
        lines.insert(rng.randrange(len(lines)), f'{{"type":"track","messageId":"bad-{batch_no}-{j}","event":')
    batch.corrupt_lines = corrupt_lines

    os.makedirs(path, exist_ok=True)
    per_file = -(-len(lines) // FILES_PER_BATCH)
    for f in range(FILES_PER_BATCH):
        chunk = lines[f * per_file:(f + 1) * per_file]
        data = ("\n".join(chunk) + "\n").encode()
        file_path = os.path.join(path, f"part-{f:03d}.json.gz")
        with open(file_path, "wb") as raw, gzip.GzipFile(fileobj=raw, mode="wb", filename="", mtime=0) as gz:
            gz.write(data)
        batch.input_bytes += os.path.getsize(file_path)
    return batch, originals
