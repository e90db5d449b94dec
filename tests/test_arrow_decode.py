"""The Arrow batch builders without Spark: the entity decode batch against
the pure-Python oracle, malformed blobs, and the LSH bucket batch's input
checks. A subprocess runs both builders and checks that pandas stays out.
"""

from __future__ import annotations

import itertools
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest

from gosmonaut_spark.fixtures.pages import generate_pages
from gosmonaut_spark.format.arrow_np import list_array, np_to_arrow
from gosmonaut_spark.format.gpb import (
    COORD_SCALE,
    FLAG_SPARSE_NODES,
    FLAG_ZLIB,
    MAGIC,
    DecodedPage,
    PageNodes,
    PageRels,
    PageWays,
    decode_page,
    encode_page,
    write_varint,
    zigzag_encode,
)
from gosmonaut_spark.functions.similarity import _lsh_batches
from gosmonaut_spark.sources.pages import _COLUMNS, _KINDS, _entity_batch

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTITY_KINDS = ("nodes", "ways", "rels")


def _binary(blobs: list[bytes]) -> pa.Array:
    off = np.concatenate(([0], np.cumsum([len(b) for b in blobs]))).astype(np.int32)
    data = np.frombuffer(b"".join(blobs), dtype=np.uint8)
    return pa.Array.from_buffers(
        pa.binary(), len(blobs), [None, pa.py_buffer(off), pa.py_buffer(data)]
    )


def _decode(blobs: list[bytes], want: tuple[str, ...]) -> list[dict]:
    rb = pa.RecordBatch.from_arrays(
        [np_to_arrow(np.arange(len(blobs))), _binary(blobs)], names=["page", "html"]
    )
    kinds = tuple(k for k in _KINDS if k in want)
    cols = [c for c in _COLUMNS if any(c in _KINDS[k][1] for k in kinds)]
    out = _entity_batch(rb, kinds, cols, ("page",))
    assert out.schema.names == ["page", *cols, "etype"]
    assert [out.schema.field(c).type for c in cols] == [_COLUMNS[c][1] for c in cols]
    return out.to_pylist()


def _oracle(blobs: list[bytes], want: tuple[str, ...]) -> list[dict]:
    """The expected rows, from the pure-Python decoder: kinds in decode
    order, pages in order within a kind, absent columns null."""
    kinds = [k for k in _KINDS if k in want]
    cols = [c for c in _COLUMNS if any(c in _KINDS[k][1] for k in kinds)]
    pages = [decode_page(b) for b in blobs]
    rows = []
    for k in kinds:
        for i, p in enumerate(pages):
            if k == "nodes":
                ents = [
                    {"id": a, "lat": la * COORD_SCALE, "lon": lo * COORD_SCALE, "tags": t}
                    for a, la, lo, t in zip(
                        p.nodes.ids, p.nodes.lat_units, p.nodes.lon_units, p.nodes.tags
                    )
                ]
            elif k == "ways":
                ents = [
                    {"id": a, "tags": t, "refs": r}
                    for a, t, r in zip(p.ways.ids, p.ways.tags, p.ways.refs)
                ]
            elif k == "rels":
                r = p.rels
                ents = [
                    {"id": a, "tags": t, "member_ids": m, "member_types": ty, "member_roles": ro}
                    for a, t, m, ty, ro in zip(
                        r.ids, r.tags, r.member_ids, r.member_types, r.member_roles
                    )
                ]
            else:
                ents = [{"text_extracted": p.text.decode("utf-8")}]
            for e in ents:
                if "tags" in e:
                    e["tags"] = list(e["tags"].items())  # map order = dict order
                row = {"page": i, **{c: e.get(c) for c in cols}}
                row["etype"] = _KINDS[k][0]
                rows.append(row)
    return rows


def _sample_page() -> DecodedPage:
    return DecodedPage(
        text="héllo ☃".encode(),
        nodes=PageNodes(
            ids=[-5, 0, 92_233_720_368],
            lat_units=[515_074_000, -900_000_000, 1],
            lon_units=[-1_800_000_000, 3, 0],
            tags=[{"name": "x", "addr:housenumber": "1"}, {}, {"a": ""}],
        ),
        ways=PageWays(ids=[10, -11], refs=[[-5, 7, 7], []], tags=[{}, {"highway": "x"}]),
        rels=PageRels(
            ids=[100],
            member_ids=[[10, -5]],
            member_types=[[2, 1]],
            member_roles=[["outer", ""]],
            tags=[{"type": "multipolygon"}],
        ),
    )


WANTS = [
    w
    for n in range(1, 5)
    for w in itertools.combinations(("text", "nodes", "ways", "rels"), n)
]


@pytest.mark.parametrize("want", WANTS, ids=lambda w: "+".join(w))
def test_batch_matches_oracle(want):
    """Every kind subset over generated pages (zlib on and off, sparse and
    dense nodes) and the hand-made page in all four wire layouts."""
    blobs = [s.html for s in generate_pages(24, seed=7)]
    blobs += [
        encode_page(_sample_page(), compress=z, node_encoding=e)
        for z in (False, True)
        for e in ("dense", "sparse")
    ]
    layouts = {0, FLAG_ZLIB, FLAG_SPARSE_NODES, FLAG_ZLIB | FLAG_SPARSE_NODES}
    assert {b[4] for b in blobs} == layouts
    assert _decode(blobs, want) == _oracle(blobs, want)


@pytest.mark.parametrize("want", [ENTITY_KINDS, ("text",), ("text", "nodes")])
def test_empty_page(want):
    empty = encode_page(DecodedPage(), compress=True)
    blobs = [empty, encode_page(_sample_page(), compress=False), empty]
    assert _decode(blobs, want) == _oracle(blobs, want)
    assert _decode([empty], want) == _oracle([empty], want)


def _blob(strings: list[bytes], tag_stream: list[int], text: bytes = b"") -> bytes:
    """A raw GPB1 page with one node (id 1 at 0,0) whose tag stream is
    written as given (0 ends the node's tags) over a string table written
    as given: lets a test repeat a key or a string, or break an index."""
    secs = [bytearray() for _ in range(5)]
    write_varint(secs[0], len(strings))
    for s in strings:
        write_varint(secs[0], len(s))
        secs[0].extend(s)
    write_varint(secs[1], len(text))
    secs[1].extend(text)
    for v in (1, zigzag_encode(1), 0, 0, *tag_stream):
        write_varint(secs[2], v)
    write_varint(secs[3], 0)
    write_varint(secs[4], 0)
    body = bytearray()
    for s in secs:
        write_varint(body, len(s))
    return MAGIC + bytes([0]) + bytes(body) + b"".join(secs)


def test_repeated_key_last_write_wins_in_first_position():
    """``k`` is written three times on one node: it keeps its first
    position and its last value. In the second page ``k`` sits at two
    table indices, and still dedupes by string."""
    s = [b"", b"k", b"v1", b"v2", b"a", b"x", b"v3"]
    one = _blob(s, [1, 3, 4, 6, 1, 4, 1, 7, 0])
    two = _blob([b"", b"k", b"v", b"k", b"w"], [1, 3, 3, 5, 0])
    rows = _decode([one, two], ("nodes",))
    assert rows == _oracle([one, two], ("nodes",))
    assert rows[0]["tags"] == [("k", "v3"), ("a", "x")]
    assert rows[1]["tags"] == [("k", "w")]


@pytest.mark.parametrize("stream", [[1, 6, 0], [5, 2, 0]], ids=["value", "key"])
def test_string_index_checked_against_own_page(stream):
    """String 5 is past the first page's 3-string table; in the batch's
    concatenated table it would read the second page's strings."""
    bad = _blob([b"", b"k", b"v"], stream)
    good = _blob([b"", b"k", b"v", b"w", b"y", b"z", b"q"], [1, 3, 0])
    with pytest.raises(IndexError):
        decode_page(bad)
    with pytest.raises(ValueError, match="string index out of range"):
        _decode([bad, good], ("nodes",))
    assert _decode([good, good], ("nodes",)) == _oracle([good, good], ("nodes",))


def test_key_without_value_raises():
    """A 0 right after a key ends the entity's tags before its value."""
    bad = _blob([b"", b"k", b"v"], [1, 0])
    with pytest.raises(IndexError):  # the oracle reads past the page
        decode_page(bad)
    with pytest.raises(ValueError, match="a key without a value"):
        _decode([bad], ("nodes",))


@pytest.mark.parametrize("want", [("nodes",), ("ways",)])
def test_invalid_utf8_string_raises(want):
    """The oracle decodes every table string, so a bad one fails the page
    even when no entity uses it."""
    bad = _blob([b"", b"k", b"\xff\xfe"], [1, 2, 0])
    with pytest.raises(ValueError):
        decode_page(bad)
    with pytest.raises(ValueError):
        _decode([bad], want)


def test_invalid_utf8_text_raises():
    bad = _blob([b""], [0], text=b"ok \xc3")
    with pytest.raises(ValueError):
        _decode([bad], ("text",))
    assert _decode([bad], ("nodes",)) == _oracle([bad], ("nodes",))


def _vectors(rows: list[list[float] | None]) -> pa.RecordBatch:
    """A (vec_id, v) batch built from buffers; ``None`` is a null vector."""
    lens = np.array([0 if r is None else len(r) for r in rows])
    flat = np.array([x for r in rows if r is not None for x in r], dtype=np.float32)
    vecs = list_array(lens, np_to_arrow(flat))
    if any(r is None for r in rows):
        valid = np.packbits(np.array([r is not None for r in rows]), bitorder="little")
        vecs = pa.Array.from_buffers(
            vecs.type, len(rows), [pa.py_buffer(valid), vecs.buffers()[1]], children=[vecs.values]
        )
    ids = np_to_arrow(np.arange(len(rows), dtype=np.int64))
    return pa.RecordBatch.from_arrays([ids, vecs], names=["vec_id", "v"])


def _buckets(rb: pa.RecordBatch, dim: int) -> list[dict]:
    fn = _lsh_batches(1, 4, 3, dim, 42, "bkts", "norm")
    return [r for out in fn(iter([rb])) for r in out.to_pylist()]


def test_lsh_batch_matches_numpy():
    rng = np.random.default_rng(3)
    rows = rng.normal(size=(5, 8)).astype(np.float32)
    rb = _vectors(rows.tolist())
    got = _buckets(rb.slice(1), 8)  # a sliced batch reads from its own offset
    assert [r["vec_id"] for r in got] == [1, 2, 3, 4]
    from gosmonaut_spark.functions.similarity import _hyperplanes

    planes = [_hyperplanes(8, 4, t, 42) for t in range(3)]

    def fold(v, w):  # the left-to-right float64 sum the worker documents
        acc = 0.0
        for x, y in zip(v, w):
            acc += float(x) * float(y)
        return acc

    for r, v in zip(got, rows[1:].tolist()):
        want = [sum(1 << b for b in range(4) if fold(v, p[b]) > 0.0) for p in planes]
        assert r["bkts"] == want
        assert r["norm"] == float(np.sqrt(fold(v, v)))


def test_lsh_batch_rejects_null_and_wrong_length_vectors():
    with pytest.raises(ValueError, match="null vectors"):
        _buckets(_vectors([[1.0, 2.0], None]), 2)
    with pytest.raises(ValueError, match="vector length 3 != dim 2"):
        _buckets(_vectors([[1.0, 2.0], [1.0, 2.0, 3.0]]), 2)
    with pytest.raises(ValueError, match="vector length 0 != dim 2"):
        _buckets(_vectors([[1.0, 2.0], []]), 2)


_NO_PANDAS = """
import sys
sys.path.insert(0, {root!r})
from tests.test_arrow_decode import _buckets, _decode, _oracle, _vectors, ENTITY_KINDS
from gosmonaut_spark.fixtures.pages import generate_pages

blobs = [s.html for s in generate_pages(8, seed=1)]
assert _decode(blobs, ENTITY_KINDS + ("text",))
assert len(_buckets(_vectors([[1.0, 2.0], [3.0, -4.0]]), 2)) == 2
print("pandas" in sys.modules)
"""


def test_workers_run_without_pandas():
    """Both batch builders run, on small Arrow batches, in a process that
    never imports pandas."""
    out = subprocess.run(
        [sys.executable, "-c", _NO_PANDAS.format(root=ROOT)],
        capture_output=True,
        text=True,
        timeout=120,
        cwd=ROOT,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "False"
