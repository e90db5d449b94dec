"""GPB1 — GeoPage Binary v1: spec, encoder, and the pure-Python oracle decoder.

An original, self-contained binary payload format for the ``html`` column of
the synthetic pages table. It mirrors the *wire discipline* of the reference's
PBF input (per-block string dictionary, delta + zigzag packed varints,
0-delimited key/value tag streams, optional zlib body — see
/root/reference/decode.go:491-515 for the raw/zlib branch,
/root/reference/OSMPBF/osmformat.proto for the dictionary/delta layout) while
being a brand-new format designed for vectorized numpy decoding.

Layout (all integers are LEB128 unsigned varints; "zz" = zigzag-signed)::

    blob   := magic b"GPB1" | flags u8 | body
    flags  := bit0 set -> body is zlib-compressed
    body   := dir | strtab | text | nodes | ways | rels
    dir    := 5 varints: byte length of each following section — a
              payload-level zone map, the analog of the reference's blob
              position index (/root/reference/decode.go:341-383): typed
              extraction passes seek straight to the section they need
    strtab := n | n * (len | utf8-bytes)          # index 0 MUST be ""
    text   := len | utf8-bytes                     # the page's extracted text
    nodes  := n | n*zz-delta(id) | n*zz-delta(lat_unit) | n*zz-delta(lon_unit)
              | keyvals                            # n zero-delimited groups
    ways   := n | n*zz-delta(id) | n*(nrefs)
              | sum(nrefs)*zz refs (delta reset per way; first = absolute)
              | keyvals                            # n groups
    rels   := n | n*zz-delta(id) | n*(nmembers)
              | sum*zz member ids (delta reset per rel)
              | sum*(member type: 1=node 2=way 4=relation)
              | sum*(role string-table index)
              | keyvals                            # n groups
    keyvals:= per entity: (key_idx val_idx+1)* 0   # key_idx != 0; values are
              stored off-by-one so index 0 stays an unambiguous delimiter
              (empty-string *values* are legal; empty keys are not)

Coordinates use the reference's projection (/root/reference/decode.go:517-519):
``deg = 1e-9 * (offset + granularity * unit)`` with offset=0, granularity=100,
i.e. exactly 7 decimal digits of precision (unit = round(deg * 1e7)).

Member type constants match the reference's bitmask values
(/root/reference/osm_types.go:10-17): NodeType=1, WayType=2, RelationType=4.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass, field

MAGIC = b"GPB1"
FLAG_ZLIB = 0x01
# Second node wire encoding (flag bit1): "sparse" nodes are interleaved
# per-node records of ABSOLUTE zigzag values (id, lat, lon)* — the analog
# of PBF's plain Node messages vs DenseNodes (the reference decodes both:
# /root/reference/go_blob_decoder.go:151-168 dense vs the non-dense group
# parsers; tested 4-way at gosmonaut_test.go:27-41). Dense (default) is
# columnar delta+zigzag. Ways/relations are unaffected.
FLAG_SPARSE_NODES = 0x02
GRANULARITY = 100
COORD_SCALE = 1e-9 * GRANULARITY  # unit -> degree

NODE_TYPE = 1
WAY_TYPE = 2
RELATION_TYPE = 4


def deg_to_unit(deg: float) -> int:
    return int(round(deg * 1e7))


def unit_to_deg(unit: int) -> float:
    return COORD_SCALE * unit


# ---------------------------------------------------------------------------
# varint / zigzag primitives (pure Python — the oracle side)
# ---------------------------------------------------------------------------


def zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63) if n >= 0 else ((-n) << 1) - 1


def zigzag_decode(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def write_varint(out: bytearray, u: int) -> None:
    if u < 0:
        raise ValueError("varint must be unsigned")
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


class Reader:
    """Cursor over a bytes buffer; the oracle decoder's only state."""

    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def varint(self) -> int:
        u = 0
        shift = 0
        buf = self.buf
        while True:
            b = buf[self.pos]
            self.pos += 1
            u |= (b & 0x7F) << shift
            if not b & 0x80:
                return u
            shift += 7
            if shift > 70:
                raise ValueError("varint too long")

    def zz(self) -> int:
        return zigzag_decode(self.varint())

    def bytes_(self, n: int) -> bytes:
        b = self.buf[self.pos : self.pos + n]
        if len(b) != n:
            raise ValueError("truncated buffer")
        self.pos += n
        return b


# ---------------------------------------------------------------------------
# Decoded page model (plain Python containers; both decoders produce this)
# ---------------------------------------------------------------------------


@dataclass
class PageNodes:
    ids: list[int] = field(default_factory=list)
    lat_units: list[int] = field(default_factory=list)
    lon_units: list[int] = field(default_factory=list)
    tags: list[dict[str, str]] = field(default_factory=list)


@dataclass
class PageWays:
    ids: list[int] = field(default_factory=list)
    refs: list[list[int]] = field(default_factory=list)
    tags: list[dict[str, str]] = field(default_factory=list)


@dataclass
class PageRels:
    ids: list[int] = field(default_factory=list)
    member_ids: list[list[int]] = field(default_factory=list)
    member_types: list[list[int]] = field(default_factory=list)
    member_roles: list[list[str]] = field(default_factory=list)
    tags: list[dict[str, str]] = field(default_factory=list)


@dataclass
class DecodedPage:
    text: bytes = b""
    nodes: PageNodes = field(default_factory=PageNodes)
    ways: PageWays = field(default_factory=PageWays)
    rels: PageRels = field(default_factory=PageRels)


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------


class _StringTable:
    def __init__(self) -> None:
        self._idx: dict[str, int] = {"": 0}
        self.strings: list[str] = [""]

    def add(self, s: str) -> int:
        i = self._idx.get(s)
        if i is None:
            i = len(self.strings)
            self._idx[s] = i
            self.strings.append(s)
        return i


def encode_page(
    page: DecodedPage, *, compress: bool, node_encoding: str = "dense"
) -> bytes:
    """Serialize a DecodedPage to a GPB1 blob.

    ``node_encoding``: ``"dense"`` (columnar delta+zigzag, default) or
    ``"sparse"`` (interleaved absolute records) — see FLAG_SPARSE_NODES.
    """
    if node_encoding not in ("dense", "sparse"):
        raise ValueError(f"unknown node_encoding {node_encoding!r}")
    st = _StringTable()
    # Pre-intern all strings so the table is complete before writing.
    tag_groups: list[list[dict[str, str]]] = [page.nodes.tags, page.ways.tags, page.rels.tags]
    for groups in tag_groups:
        for tags in groups:
            for k, v in tags.items():
                st.add(k)
                st.add(v)
    for roles in page.rels.member_roles:
        for r in roles:
            st.add(r)

    def write_keyvals(body: bytearray, groups: list[dict[str, str]]) -> None:
        for tags in groups:
            for k, v in tags.items():
                if not k:
                    raise ValueError("empty tag keys are not encodable")
                write_varint(body, st.add(k))
                write_varint(body, st.add(v) + 1)  # off-by-one: 0 = delimiter
            write_varint(body, 0)

    def write_delta_zz(body: bytearray, values: list[int]) -> None:
        prev = 0
        for v in values:
            write_varint(body, zigzag_encode(v - prev))
            prev = v

    # nodes section (two wire layouts, selected by flags bit1)
    nodes_sec = bytearray()
    n = page.nodes
    write_varint(nodes_sec, len(n.ids))
    if node_encoding == "sparse":
        for i in range(len(n.ids)):
            write_varint(nodes_sec, zigzag_encode(n.ids[i]))
            write_varint(nodes_sec, zigzag_encode(n.lat_units[i]))
            write_varint(nodes_sec, zigzag_encode(n.lon_units[i]))
    else:
        write_delta_zz(nodes_sec, n.ids)
        write_delta_zz(nodes_sec, n.lat_units)
        write_delta_zz(nodes_sec, n.lon_units)
    write_keyvals(nodes_sec, n.tags)

    # ways section
    ways_sec = bytearray()
    w = page.ways
    write_varint(ways_sec, len(w.ids))
    write_delta_zz(ways_sec, w.ids)
    for refs in w.refs:
        write_varint(ways_sec, len(refs))
    for refs in w.refs:
        write_delta_zz(ways_sec, refs)  # delta resets per way (first = absolute)
    write_keyvals(ways_sec, w.tags)

    # rels section
    rels_sec = bytearray()
    r = page.rels
    write_varint(rels_sec, len(r.ids))
    write_delta_zz(rels_sec, r.ids)
    for mids in r.member_ids:
        write_varint(rels_sec, len(mids))
    for mids in r.member_ids:
        write_delta_zz(rels_sec, mids)
    for mtypes in r.member_types:
        for t in mtypes:
            write_varint(rels_sec, t)
    for roles in r.member_roles:
        for role in roles:
            write_varint(rels_sec, st.add(role))
    write_keyvals(rels_sec, r.tags)

    # strtab section — written last (interning may have grown the table)
    strtab_sec = bytearray()
    write_varint(strtab_sec, len(st.strings))
    for s in st.strings:
        b = s.encode("utf-8")
        write_varint(strtab_sec, len(b))
        strtab_sec.extend(b)

    # text section
    text_sec = bytearray()
    write_varint(text_sec, len(page.text))
    text_sec.extend(page.text)

    sections = [strtab_sec, text_sec, nodes_sec, ways_sec, rels_sec]
    body = bytearray()
    for sec in sections:
        write_varint(body, len(sec))  # section directory (zone map)
    for sec in sections:
        body.extend(sec)
    payload = bytes(body)
    flags = 0
    if compress:
        payload = zlib.compress(payload, level=6)
        flags |= FLAG_ZLIB
    if node_encoding == "sparse":
        flags |= FLAG_SPARSE_NODES
    return MAGIC + bytes([flags]) + payload


# ---------------------------------------------------------------------------
# Oracle decoder (pure Python, deliberately independent of the numpy path)
# ---------------------------------------------------------------------------


def decode_page(blob: bytes) -> DecodedPage:
    """Pure-Python reference decoder — the oracle the numpy engine must match
    byte-for-byte (the two-decoder equivalence discipline of
    /root/reference/gosmonaut_test.go:27-41)."""
    if blob[:4] != MAGIC:
        raise ValueError("bad magic")
    flags = blob[4]
    body = blob[5:]
    if flags & FLAG_ZLIB:
        body = zlib.decompress(body)
    rd = Reader(body)

    # section directory: [strtab, text, nodes, ways, rels] byte lengths
    sec_lens = [rd.varint() for _ in range(5)]
    if rd.pos + sum(sec_lens) != len(body):
        raise ValueError("section directory does not cover the body")

    n_str = rd.varint()
    strings: list[str] = []
    for _ in range(n_str):
        ln = rd.varint()
        strings.append(rd.bytes_(ln).decode("utf-8"))
    if not strings or strings[0] != "":
        raise ValueError("string table index 0 must be empty")

    text_len = rd.varint()
    text = rd.bytes_(text_len)

    def read_delta_zz(count: int) -> list[int]:
        out = []
        prev = 0
        for _ in range(count):
            prev += rd.zz()
            out.append(prev)
        return out

    def read_keyvals(count: int) -> list[dict[str, str]]:
        out = []
        for _ in range(count):
            tags: dict[str, str] = {}
            while True:
                k = rd.varint()
                if k == 0:
                    break
                v = rd.varint()
                # upsert: last write wins (reference osm_types.go:201-207);
                # value indices are stored off-by-one (0 = delimiter)
                tags[strings[k]] = strings[v - 1]
            out.append(tags)
        return out

    page = DecodedPage(text=text)

    nn = rd.varint()
    if flags & FLAG_SPARSE_NODES:
        for _ in range(nn):
            page.nodes.ids.append(rd.zz())
            page.nodes.lat_units.append(rd.zz())
            page.nodes.lon_units.append(rd.zz())
    else:
        page.nodes.ids = read_delta_zz(nn)
        page.nodes.lat_units = read_delta_zz(nn)
        page.nodes.lon_units = read_delta_zz(nn)
    page.nodes.tags = read_keyvals(nn)

    nw = rd.varint()
    page.ways.ids = read_delta_zz(nw)
    nrefs = [rd.varint() for _ in range(nw)]
    page.ways.refs = [read_delta_zz(c) for c in nrefs]
    page.ways.tags = read_keyvals(nw)

    nr = rd.varint()
    page.rels.ids = read_delta_zz(nr)
    nmem = [rd.varint() for _ in range(nr)]
    page.rels.member_ids = [read_delta_zz(c) for c in nmem]
    page.rels.member_types = [[rd.varint() for _ in range(c)] for c in nmem]
    page.rels.member_roles = [[strings[rd.varint()] for _ in range(c)] for c in nmem]
    page.rels.tags = read_keyvals(nr)

    if rd.pos != len(body):
        raise ValueError(f"trailing bytes: {len(body) - rd.pos}")
    return page
