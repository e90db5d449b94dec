"""Pass 0 — pages-table scan and entity extraction.

The Spark recast of the reference's parallel blob decode (reference
decode.go:155-249): Spark's task scheduler replaces the hand-rolled
goroutine pool, and each ``mapInArrow`` batch plays the part of one
PrimitiveBlock (the session pins ``maxRecordsPerBatch``). One loop,
:func:`_extract`, decodes every page; its ``want`` selects the kinds to
emit, and the GPB1 section directory lets the decoder seek over the
sections no wanted kind needs (reference fast_blob_decoder.go:74-129).
Each output batch is built from the decoder's flat arrays and offsets
(``ListArray``/``MapArray.from_arrays``), so the workers never import
pandas.
Catalyst's column pruning means a pass reads only ``url``, ``html`` and the
carried columns from parquet.

Output schemas (FIXTURES.md §2):

* ``entities`` — every kind in one pass, ``etype`` discriminator
* ``nodes(url, id, lat, lon, tags)``
* ``ways_raw(url, id, tags, refs array<long>)`` — ``way_refs`` via posexplode
* ``relations_raw(url, id, tags, member_ids, member_types, member_roles)``
* ``texts(url, text_extracted)`` — byte-identity invariant surface
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import PKG_ROOT
from ..format.arrow_np import list_array, np_to_arrow, utf8_array
from ..format.gpb import COORD_SCALE
from ..format.gpb_numpy import PageBatch, decode_page_np

# Every column the decode loop can emit, its Spark and its Arrow type, in
# output order.
_COLUMNS = {
    "id": ("long", pa.int64()),
    "lat": ("double", pa.float64()),
    "lon": ("double", pa.float64()),
    "tags": ("map<string,string>", pa.map_(pa.string(), pa.string())),
    "refs": ("array<long>", pa.list_(pa.int64())),
    "member_ids": ("array<long>", pa.list_(pa.int64())),
    "member_types": ("array<int>", pa.list_(pa.int32())),
    "member_roles": ("array<string>", pa.list_(pa.string())),
    "text_extracted": ("string", pa.string()),
}


REQUIRED_COLUMNS = {
    "url": "string",
    "warc_ts": "timestamp_ntz",
    "html": "binary",
    "text": "string",
    "lang": "string",
}


SUPPORTED_FEATURES = {"GPB1-v1", "DenseGeo"}


class Header:
    """Table-level metadata — the analog of the reference's decoded
    HeaderBlock (/root/reference/decode.go:54-71; golden-tested there at
    gosmonaut_test.go:201-238): bbox, required/optional features, writing
    program, source, osmosis-style replication ts/seq/url. Carried as
    parquet footer key-value metadata (the Iceberg table-properties analog
    named in SURVEY §1.1)."""

    def __init__(self, d: dict):
        bb = d.get("bounding_box") or {}
        self.bounding_box = (
            (bb["left"], bb["right"], bb["top"], bb["bottom"]) if bb else None
        )
        self.required_features: list[str] = list(d.get("required_features") or [])
        self.optional_features: list[str] = list(d.get("optional_features") or [])
        self.writing_program: str = d.get("writing_program", "")
        self.source: str = d.get("source", "")
        self.osmosis_replication_timestamp: int | None = d.get(
            "osmosis_replication_timestamp"
        )
        self.osmosis_replication_sequence_number: int | None = d.get(
            "osmosis_replication_sequence_number"
        )
        self.osmosis_replication_base_url: str = d.get(
            "osmosis_replication_base_url", ""
        )

    def __eq__(self, other) -> bool:
        return isinstance(other, Header) and self.__dict__ == other.__dict__

    def __repr__(self) -> str:
        return f"Header({self.__dict__!r})"


def read_header(path: str) -> Header | None:
    """Read the Header from the parquet footer without launching a job
    (plan-time metadata, like the reference's header decode at open).
    Returns None for pages tables written without one.

    For a directory table, EVERY part footer is inspected: a header in any
    part file is honored (writers may emit metadata on one part only), and
    conflicting headers across parts raise rather than silently picking
    one — otherwise the capability fail-fast could be skipped for a table
    whose header lives in a non-first file."""
    import json

    import pyarrow.parquet as pq

    paths = [path]
    if os.path.isdir(path):
        paths = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith("_")
        )
    found: Header | None = None
    for p in paths:
        meta = pq.read_schema(p).metadata or {}
        raw = meta.get(b"gosmonaut.header")
        if raw is None:
            continue
        h = Header(json.loads(raw.decode("utf-8")))
        if found is None:
            found = h
        elif h != found:
            raise ValueError(
                f"conflicting gosmonaut.header metadata across part files "
                f"of {path}: {found!r} vs {h!r} (in {p})"
            )
    return found


def assert_capabilities(header: Header | None) -> None:
    """Fail-fast required-features check, mirroring the reference's
    capability validation (/root/reference/decode.go:46-51, :289-295): an
    input demanding a feature this engine does not implement dies at plan
    time, not mid-scan. A missing header (plain user tables) passes."""
    if header is None:
        return
    unsupported = [
        f for f in header.required_features if f not in SUPPORTED_FEATURES
    ]
    if unsupported:
        raise ValueError(
            f"pages table requires unsupported features {unsupported}; "
            f"this engine supports {sorted(SUPPORTED_FEATURES)}"
        )


def assert_pages_schema(df: DataFrame) -> DataFrame:
    """Fail-fast capability check before any job launches — the analog of
    the reference's required-features validation
    (/root/reference/decode.go:289-295): unsupported input dies at plan
    time, not mid-scan."""
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    missing = [
        f"{k}:{v}" for k, v in REQUIRED_COLUMNS.items() if actual.get(k) != v
    ]
    if missing:
        raise ValueError(
            f"pages table schema mismatch — required {missing}, got {actual}"
        )
    return df


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Scan the pages table. Parquet layout stands in for Iceberg in the
    sandbox (no Iceberg runtime jar); the reader is isolated here so a real
    ``spark.read.table`` swap is one line. Validates the table Header's
    required features (fail-fast, plan time) before any job launches."""
    assert_capabilities(read_header(path))
    return assert_pages_schema(spark.read.parquet(path))


def _node_columns(b: PageBatch) -> tuple[np.ndarray, dict]:
    """Coordinate projection per the reference (decode.go:517-519):
    ``deg = 1e-9 * granularity * unit``, applied vectorized in numpy."""
    return b.counts("node_ids"), {
        "id": b.arrow("node_ids"),
        "lat": np_to_arrow(b.cat("node_lat_units") * COORD_SCALE),
        "lon": np_to_arrow(b.cat("node_lon_units") * COORD_SCALE),
        "tags": b.tags("node"),
    }


def _way_columns(b: PageBatch) -> tuple[np.ndarray, dict]:
    """One row per way, refs as an ordered array."""
    return b.counts("way_ids"), {
        "id": b.arrow("way_ids"),
        "tags": b.tags("way"),
        "refs": list_array(b.cat("way_nrefs"), b.arrow("way_refs")),
    }


def _relation_columns(b: PageBatch) -> tuple[np.ndarray, dict]:
    """One row per relation, parallel member arrays in input order
    (reference gosmonaut.go:427-440)."""
    nm = b.cat("rel_nmembers")
    roles = b.take(b.index([p.rel_role_idx for p in b.pages]))
    return b.counts("rel_ids"), {
        "id": b.arrow("rel_ids"),
        "tags": b.tags("rel"),
        "member_ids": list_array(nm, b.arrow("rel_member_ids")),
        "member_types": list_array(nm, b.arrow("rel_member_types", np.int32)),
        "member_roles": list_array(nm, roles),
    }


def _text_columns(b: PageBatch) -> tuple[np.ndarray, dict]:
    """One row per page: the decoded text section."""
    data = np.frombuffer(b"".join(p.text for p in b.pages), dtype=np.uint8)
    return np.ones(len(b.pages), dtype=np.int64), {
        "text_extracted": utf8_array(data, b.counts("text"))
    }


# decode section -> (etype value, columns its builder fills, builder)
_KINDS = {
    "nodes": ("node", ("id", "lat", "lon", "tags"), _node_columns),
    "ways": ("way", ("id", "tags", "refs"), _way_columns),
    "rels": (
        "relation",
        ("id", "tags", "member_ids", "member_types", "member_roles"),
        _relation_columns,
    ),
    "text": ("text", ("text_extracted",), _text_columns),
}


def _entity_batch(
    rb: pa.RecordBatch, kinds: tuple[str, ...], cols: list[str], carry: tuple[str, ...]
) -> pa.RecordBatch:
    """Decode one Arrow batch of pages into one batch of entity rows: the
    ``kinds`` in order, each kind's rows in page order, each row with its
    page's ``carry`` columns; a column a kind lacks is null for that kind's
    rows. Nested columns are built from offsets: no Python object per
    entity."""
    b = PageBatch([decode_page_np(h, want=kinds) for h in rb.column("html").to_pylist()])
    built = [_KINDS[k][2](b) for k in kinds]
    rows = [int(counts.sum()) for counts, _ in built]
    page_of_row = np.concatenate(
        [np.repeat(np.arange(len(b.pages)), counts) for counts, _ in built]
    )
    out = [rb.column(c).take(np_to_arrow(page_of_row)) for c in carry]
    for c in cols:
        parts = [
            x[c] if c in x else pa.nulls(n, _COLUMNS[c][1]) for (_, x), n in zip(built, rows)
        ]
        out.append(parts[0] if len(parts) == 1 else pa.concat_arrays(parts))
    names = [_KINDS[k][0].encode() for k in kinds]
    etypes = utf8_array(np.frombuffer(b"".join(names), dtype=np.uint8), [len(n) for n in names])
    out.append(etypes.take(np_to_arrow(np.repeat(np.arange(len(kinds)), rows))))
    return pa.RecordBatch.from_arrays(out, names=[*carry, *cols, "etype"])


def _extract(
    pages: DataFrame, want: tuple[str, ...], carry: tuple[str, ...] = ("url",)
) -> DataFrame:
    """The decode loop: decode each page's ``want`` sections once and emit
    one row per entity of the wanted kinds plus an ``etype`` column, with
    the page's ``carry`` columns repeated onto each of its entities.

    Output columns: ``carry``, then the wanted kinds' columns in
    ``_COLUMNS`` order, then ``etype``. A column a kind lacks is null for
    that kind's rows."""
    kinds = tuple(k for k in _KINDS if k in want)
    cols = [c for c in _COLUMNS if any(c in _KINDS[k][1] for k in kinds)]
    in_types = {f.name: f.dataType.simpleString() for f in pages.schema.fields}
    schema = ", ".join(
        [f"{c} {in_types[c]}" for c in carry]
        + [f"{c} {_COLUMNS[c][0]}" for c in cols]
        + ["etype string"]
    )
    pkg_root = PKG_ROOT

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # import inside the task so only workers pay the import
        import sys

        if pkg_root not in sys.path:
            sys.path.insert(0, pkg_root)
        from gosmonaut_spark.sources.pages import _entity_batch

        for rb in batches:
            if rb.num_rows:
                yield _entity_batch(rb, kinds, cols, carry)

    return pages.select(*carry, "html").mapInArrow(fn, schema)


def extract_entities(pages: DataFrame) -> DataFrame:
    """ONE decode pass emitting every entity kind (union schema, ``etype``
    discriminator) — the checkpointed pipeline's extraction stage.

    The typed extractors each decompress every blob to seek their own
    section, so running them as separate passes pays the zlib inflate (the
    dominant extraction cost) three times; this is the reference's run-1
    behavior instead — one sequential scan that populates everything
    (reference decode.go:262-273). Downstream passes read the snapshot
    partitioned by ``etype`` with partition pruning, the analog of the
    reference's per-type blob index replay (decode.go:341-383).
    """
    return _extract(pages, ("nodes", "ways", "rels"))


def extract_nodes(pages: DataFrame) -> DataFrame:
    """Decode the nodes section of every page → flat nodes DataFrame."""
    return entities_nodes(_extract(pages, ("nodes",)))


def extract_ways_raw(pages: DataFrame) -> DataFrame:
    """Decode the ways section → one row per way."""
    return entities_ways_raw(_extract(pages, ("ways",)))


def extract_relations_raw(pages: DataFrame) -> DataFrame:
    """Decode the relations section → one row per relation."""
    return entities_relations_raw(_extract(pages, ("rels",)))


def entities_nodes(ents: DataFrame) -> DataFrame:
    return ents.filter(F.col("etype") == "node").select(
        "url", "id", "lat", "lon", "tags"
    )


def entities_ways_raw(ents: DataFrame) -> DataFrame:
    return ents.filter(F.col("etype") == "way").select("url", "id", "tags", "refs")


def entities_relations_raw(ents: DataFrame) -> DataFrame:
    return ents.filter(F.col("etype") == "relation").select(
        "url", "id", "tags", "member_ids", "member_types", "member_roles"
    )


def extract_texts(pages: DataFrame) -> DataFrame:
    """Decode only the text section — the byte-identity invariant surface
    (north rule: byte-identical extracted text per url)."""
    return _extract(pages, ("text",)).select("url", "text_extracted")


def way_refs(ways_raw: DataFrame) -> DataFrame:
    """``way_refs(way_id, pos, node_id)`` — ref order is data, not shuffle
    order (the reference's ordered stitch, /root/reference/gosmonaut.go:371-390)."""
    return ways_raw.select(
        F.col("id").alias("way_id"),
        F.posexplode("refs").alias("pos", "node_id"),
    )


def rel_members(relations_raw: DataFrame) -> DataFrame:
    """``rel_members(rel_id, pos, member_id, member_type, role)`` — zip of the
    parallel arrays (/root/reference/gosmonaut.go:427-440)."""
    zipped = relations_raw.select(
        F.col("id").alias("rel_id"),
        F.posexplode(
            F.arrays_zip(
                F.col("member_ids").alias("member_id"),
                F.col("member_types").alias("member_type"),
                F.col("member_roles").alias("role"),
            )
        ).alias("pos", "m"),
    )
    return zipped.select(
        "rel_id",
        "pos",
        F.col("m.member_id").alias("member_id"),
        F.col("m.member_type").alias("member_type"),
        F.col("m.role").alias("role"),
    )
