"""Seeded input generators with their ground truth.

Every generator is a pure function of its seed: the same seed gives the
same documents, the same files and the same checksums.  Ground truth is
computed from the generated values themselves (Python ``Decimal``), never
from the engine under test.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field
from decimal import Decimal

STATUSES = ("F", "O", "P")
NOTE_WORDS = ("gift", "wrap", "fragile", "rush", "hold", "call", "dock", "b&b", "<ok>")
HETERO_KINDS = ("refund", "exchange", "credit")
EVENT_TYPES = ("view", "click", "cart", "purchase", "error")
EPOCH = dt.datetime(2024, 1, 1)


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _money(rng: random.Random, lo: int, hi: int) -> Decimal:
    return Decimal(rng.randrange(lo * 100, hi * 100)) / 100


@dataclass
class Checksum:
    """Record count plus exact decimal sums over a set of order-like rows."""

    records: int = 0
    total: Decimal = Decimal(0)
    items: Decimal = Decimal(0)

    def add(self, total: Decimal, items: list[tuple[int, Decimal]]) -> None:
        self.records += 1
        self.total += total
        self.items += sum((q * p for q, p in items), Decimal(0))


@dataclass
class OrderCorpus:
    """Order documents (one XML string each) plus a heterogeneous slice.

    ``rows`` holds the typed values of every order in the order of
    ``order_docs``; ``orders`` and ``mixed`` are the ground truth for the
    orders alone and for orders plus the heterogeneous documents."""

    order_docs: list[str]
    hetero_docs: list[str]
    rows: list[dict]
    orders: Checksum
    mixed: Checksum


def order_corpus(seed: int, n_orders: int, n_hetero: int) -> OrderCorpus:
    """Orders with attributes, a decimal and a timestamp scalar, an
    element-string note (with characters that need escaping) and a nested
    array of 1-6 line-item structs; the heterogeneous slice has other
    root tags and only a subset of the fields."""
    rng = random.Random(seed)
    order_docs, rows = [], []
    orders, mixed = Checksum(), Checksum()
    for oid in range(n_orders):
        status = rng.choice(STATUSES)
        total = _money(rng, 10, 50_000)
        odate = EPOCH + dt.timedelta(seconds=rng.randrange(0, 365 * 86400))
        note = " ".join(rng.choice(NOTE_WORDS) for _ in range(rng.randint(1, 6)))
        items = [
            (f"S{rng.randrange(100_000):05d}", rng.randint(1, 50), _money(rng, 1, 900))
            for _ in range(rng.randint(1, 6))
        ]
        item_xml = "".join(
            f'<item sku="{s}"><qty>{q}</qty><price>{p}</price></item>'
            for s, q, p in items
        )
        order_docs.append(
            f'<order id="{oid}" status="{status}"><total>{total}</total>'
            f"<odate>{odate:%Y-%m-%d %H:%M:%S}</odate><note>{_esc(note)}</note>"
            f"<items>{item_xml}</items></order>"
        )
        rows.append({
            "order_id": oid, "status": status, "total": total, "odate": odate,
            "note": note,
            "items": [{"sku": s, "qty": q, "price": p} for s, q, p in items],
        })
        pairs = [(q, p) for _, q, p in items]
        orders.add(total, pairs)
        mixed.add(total, pairs)
    hetero_docs = []
    for i in range(n_hetero):
        kind = rng.choice(HETERO_KINDS)
        total = _money(rng, 1, 5_000)
        hetero_docs.append(
            f'<{kind} id="{n_orders + i}"><total>{total}</total>'
            f"<reason>{_esc(rng.choice(NOTE_WORDS))}</reason></{kind}>"
        )
        mixed.add(total, [])
    return OrderCorpus(order_docs, hetero_docs, rows, orders, mixed)


def write_xml_files(docs: list[str], out_dir: str, n_files: int,
                    large_share: float) -> list[int]:
    """Write ``docs`` as multi-record XML files under ``<orders>`` roots:
    the first file takes ``large_share`` of the documents, the rest are
    split evenly over ``n_files - 1`` files.  Returns the file sizes."""
    os.makedirs(out_dir, exist_ok=True)
    n_large = int(len(docs) * large_share)
    rest = docs[n_large:]
    k = n_files - 1
    chunks = [docs[:n_large]] + [rest[i::k] for i in range(k)]
    sizes = []
    for i, chunk in enumerate(chunks):
        path = os.path.join(out_dir, f"orders-{i:03d}.xml")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("<orders>\n")
            for d in chunk:
                fh.write(d)
                fh.write("\n")
            fh.write("</orders>\n")
        sizes.append(os.path.getsize(path))
    return sizes


@dataclass
class EventStream:
    """Event files for the streaming workload and the windowed ground truth.

    ``windows`` maps ``(window_start, event_type)`` to ``(count,
    value_sum)`` over the events the watermark keeps; ``late`` counts the
    events it drops.  ``records`` is the manifest total: every event in
    every file, late or not."""

    files: list[str]
    records: int
    late: int
    windows: dict[tuple[str, str], tuple[int, Decimal]] = field(default_factory=dict)


FILE_SPAN = dt.timedelta(minutes=20)


def event_stream(seed: int, out_dir: str, n_files: int, events_per_file: int,
                 late_share: float = 0.05) -> EventStream:
    """Event XML files, one micro-batch each (strictly increasing mtimes).

    File ``i`` covers event time ``[start_i, start_i + 20 min)``; events are
    shuffled within a file and some reach up to an hour before ``start_i``,
    so timestamps arrive out of order but within the 2-hour watermark.
    From the third file on, ``late_share`` of the events lie five to seven
    hours before ``start_i``, so their 1-hour window ends at least four
    hours before ``start_i``.  The watermark a batch applies comes from
    the batches before it and may lag one batch, so at file ``i`` it is at
    least ``start_(i-2) - 2 h = start_i - 2 h 40 min``: Spark must drop every
    late event and keep every other one, whatever the exact batch timing."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    stream = EventStream(files=[], records=0, late=0)
    windows: dict[tuple[str, str], list] = {}
    eid = 0
    for i in range(n_files):
        start = EPOCH + i * FILE_SPAN
        events = []
        for _ in range(events_per_file):
            etype = rng.choice(EVENT_TYPES)
            value = _money(rng, 0, 500)
            late = i >= 2 and rng.random() < late_share
            if late:
                ts = start - dt.timedelta(seconds=rng.randrange(5 * 3600, 7 * 3600))
            elif rng.random() < 0.1:
                ts = start - dt.timedelta(seconds=rng.randrange(1, 3600))
            else:
                ts = start + dt.timedelta(seconds=rng.randrange(int(FILE_SPAN.total_seconds())))
            events.append((eid, etype, ts, value, late))
            eid += 1
        rng.shuffle(events)
        path = os.path.join(out_dir, f"events-{i:04d}.xml")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("<events>\n")
            for e, etype, ts, value, _ in events:
                fh.write(
                    f'<event id="{e}"><type>{etype}</type>'
                    f"<ts>{ts:%Y-%m-%d %H:%M:%S}</ts><value>{value}</value></event>\n"
                )
            fh.write("</events>\n")
        mtime = 1_700_000_000 + 60 * i
        os.utime(path, (mtime, mtime))
        stream.files.append(path)
        for _, etype, ts, value, late in events:
            stream.records += 1
            if late:
                stream.late += 1
                continue
            key = (ts.replace(minute=0, second=0).strftime("%Y-%m-%d %H:%M:%S"), etype)
            acc = windows.setdefault(key, [0, Decimal(0)])
            acc[0] += 1
            acc[1] += value
    stream.windows = {k: (n, s) for k, (n, s) in windows.items()}
    return stream
