"""The seeded generators: deterministic, and their ground truth equals a
direct computation from the XML they wrote."""

import datetime as dt
import os
import xml.etree.ElementTree as ET
from decimal import Decimal

from xspbench import gen

# the defaults of streaming.tumbling_counts, which the workload runs with
WINDOW = dt.timedelta(hours=1)
WATERMARK = dt.timedelta(hours=2)


def _order_checksum(docs):
    n, total, items = 0, Decimal(0), Decimal(0)
    for d in docs:
        root = ET.fromstring(d)
        n += 1
        total += Decimal(root.findtext("total"))
        for it in root.iter("item"):
            items += int(it.findtext("qty")) * Decimal(it.findtext("price"))
    return n, total, items


def test_order_corpus_is_deterministic():
    a, b = gen.order_corpus(7, 300, 30), gen.order_corpus(7, 300, 30)
    assert a.order_docs == b.order_docs and a.hetero_docs == b.hetero_docs
    assert a.orders == b.orders and a.mixed == b.mixed
    assert gen.order_corpus(8, 300, 30).order_docs != a.order_docs


def test_order_truth_matches_direct_computation():
    c = gen.order_corpus(3, 500, 60)
    assert _order_checksum(c.order_docs) == (c.orders.records, c.orders.total, c.orders.items)
    mixed = _order_checksum(c.order_docs + c.hetero_docs)
    assert mixed == (c.mixed.records, c.mixed.total, c.mixed.items)
    assert {ET.fromstring(d).tag for d in c.hetero_docs} <= set(gen.HETERO_KINDS)
    # typed rows agree with the documents they were rendered from
    for row, doc in zip(c.rows, c.order_docs):
        root = ET.fromstring(doc)
        assert int(root.get("id")) == row["order_id"]
        assert root.findtext("note") == row["note"]
        assert len(root.findall("items/item")) == len(row["items"]) in range(1, 7)


def test_xml_files_hold_every_document(tmp_path):
    docs = gen.order_corpus(5, 400, 0).order_docs
    sizes = gen.write_xml_files(docs, str(tmp_path), n_files=5, large_share=0.5)
    names = sorted(os.listdir(tmp_path))
    assert len(names) == len(sizes) == 5
    assert sizes[0] == max(sizes)
    back = []
    for name in names:
        back += [ET.tostring(e, encoding="unicode")
                 for e in ET.parse(tmp_path / name).getroot()]
    assert _order_checksum(back) == _order_checksum(docs)


def _read_events(path):
    out = []
    for e in ET.parse(path).getroot():
        ts = dt.datetime.strptime(e.findtext("ts"), "%Y-%m-%d %H:%M:%S")
        out.append((ts, e.findtext("type"), Decimal(e.findtext("value"))))
    return out


def test_event_stream_is_deterministic(tmp_path):
    a = gen.event_stream(4, str(tmp_path / "a"), 6, 80)
    b = gen.event_stream(4, str(tmp_path / "b"), 6, 80)
    assert (a.records, a.late, a.windows) == (b.records, b.late, b.windows)
    for fa, fb in zip(a.files, b.files):
        assert open(fa).read() == open(fb).read()
    mtimes = [os.path.getmtime(f) for f in a.files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)


def test_event_truth_matches_watermark_semantics(tmp_path):
    """Recompute the windows from the files with Spark's rule: a row is
    dropped when its window ends at or before the batch's watermark, the
    latest event time of earlier batches minus two hours.  Whether the
    watermark lags one batch or not must not change any verdict."""
    s = gen.event_stream(9, str(tmp_path), 10, 200)
    batches = [_read_events(f) for f in s.files]
    windows, late, seen_max = {}, 0, []
    for i, events in enumerate(batches):
        bounds = [max(seen_max[:k], default=None) for k in (i - 1, i)]
        marks = [m - WATERMARK if m else dt.datetime.min for m in bounds]
        for ts, etype, value in events:
            start = ts.replace(minute=0, second=0)
            end = start + WINDOW
            verdicts = {end <= m for m in marks}
            assert len(verdicts) == 1, "event on the watermark boundary"
            if verdicts.pop():
                late += 1
                continue
            n, v = windows.get((start.strftime("%Y-%m-%d %H:%M:%S"), etype), (0, Decimal(0)))
            windows[(start.strftime("%Y-%m-%d %H:%M:%S"), etype)] = (n + 1, v + value)
        seen_max.append(max(ts for ts, _, _ in events))
    assert s.records == sum(len(b) for b in batches)
    assert late == s.late > 0
    assert windows == s.windows
