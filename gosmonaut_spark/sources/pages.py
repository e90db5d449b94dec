"""Pass 0 — pages-table scan and entity extraction.

The Spark recast of the reference's parallel blob decode (reference
decode.go:155-249): Spark's task scheduler replaces the hand-rolled
goroutine pool, and each ``mapInPandas`` batch plays the part of one
PrimitiveBlock (the session pins ``maxRecordsPerBatch``). One loop,
:func:`_extract`, decodes every page; its ``want`` selects the kinds to
emit, and the GPB1 section directory lets the decoder seek over the
sections no wanted kind needs (reference fast_blob_decoder.go:74-129).
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
from itertools import chain

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..format.gpb import COORD_SCALE

# Captured driver-side and shipped inside task closures: executor Python
# workers inherit PYTHONPATH, not the driver's sys.path, so a session driven
# from another cwd (or a cluster without --py-files) can't resolve the
# package. On a real cluster ship a wheel via --py-files; this fallback
# covers local mode and shared-filesystem clusters.
_PKG_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

# Every column the decode loop can emit and its Spark type, in output order.
_COLUMNS = {
    "id": "long",
    "lat": "double",
    "lon": "double",
    "tags": "map<string,string>",
    "refs": "array<long>",
    "member_ids": "array<long>",
    "member_types": "array<int>",
    "member_roles": "array<string>",
    "text_extracted": "string",
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


def _split(values: np.ndarray, counts: np.ndarray) -> list[list]:
    """Cut a flat array into per-entity Python lists of ``counts`` items."""
    if not len(counts):
        return []
    return [a.tolist() for a in np.split(values, np.cumsum(counts)[:-1])]


def _node_columns(page) -> tuple[int, dict]:
    """Coordinate projection per the reference (decode.go:517-519):
    ``deg = 1e-9 * granularity * unit``, applied vectorized in numpy."""
    return len(page.node_ids), {
        "id": page.node_ids,
        "lat": page.node_lat_units * COORD_SCALE,
        "lon": page.node_lon_units * COORD_SCALE,
        "tags": page.node_tags,
    }


def _way_columns(page) -> tuple[int, dict]:
    """One row per way, refs as an ordered array."""
    return len(page.way_ids), {
        "id": page.way_ids,
        "tags": page.way_tags,
        "refs": _split(page.way_refs, page.way_nrefs),
    }


def _relation_columns(page) -> tuple[int, dict]:
    """One row per relation, parallel member arrays in input order
    (reference gosmonaut.go:427-440)."""
    nm = page.rel_nmembers
    return len(page.rel_ids), {
        "id": page.rel_ids,
        "tags": page.rel_tags,
        "member_ids": _split(page.rel_member_ids, nm),
        "member_types": _split(page.rel_member_types.astype("int32"), nm),
        "member_roles": _split(np.array(page.rel_member_roles, dtype=object), nm),
    }


def _text_columns(page) -> tuple[int, dict]:
    """One row per page: the decoded text section."""
    return 1, {"text_extracted": [page.text.decode("utf-8")]}


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


def _merge(chunks: list):
    """Concatenate per-page (or per-kind) column chunks into one column."""
    if len(chunks) == 1:
        return chunks[0]
    if chunks and isinstance(chunks[0], np.ndarray):
        return np.concatenate(chunks)
    return list(chain.from_iterable(chunks))


def _extract(
    pages: DataFrame, want: tuple[str, ...], carry: tuple[str, ...] = ("url",)
) -> DataFrame:
    """The decode loop: decode each page's ``want`` sections once and emit
    one row per entity of the wanted kinds plus an ``etype`` column, with
    the page's ``carry`` columns repeated onto each of its entities.

    Output columns: ``carry``, then the wanted kinds' columns in
    ``_COLUMNS`` order, then ``etype``. A column a kind lacks is null for
    that kind's rows."""
    kinds = [k for k in _KINDS if k in want]
    cols = [c for c in _COLUMNS if any(c in _KINDS[k][1] for k in kinds)]
    in_types = {f.name: f.dataType.simpleString() for f in pages.schema.fields}
    schema = ", ".join(
        [f"{c} {in_types[c]}" for c in carry]
        + [f"{c} {_COLUMNS[c]}" for c in cols]
        + ["etype string"]
    )
    doubles = {c for c in cols if _COLUMNS[c] == "double"}
    pkg_root = _PKG_ROOT

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # import inside the task so only workers pay the import
        import sys

        if pkg_root not in sys.path:
            sys.path.insert(0, pkg_root)
        from gosmonaut_spark.format.gpb_numpy import decode_page_np
        from gosmonaut_spark.sources.pages import _KINDS, _merge

        for pdf in batches:
            # per kind: entity count of each page and per-page column chunks
            counts = {k: [] for k in kinds}
            chunks = {k: {c: [] for c in _KINDS[k][1]} for k in kinds}
            for blob in pdf["html"]:
                page = decode_page_np(bytes(blob), want=want)
                for k in kinds:
                    n, built = _KINDS[k][2](page)
                    counts[k].append(n)
                    for c, v in built.items():
                        chunks[k][c].append(v)
            totals = [sum(counts[k]) for k in kinds]
            out = {
                c: _merge([np.repeat(pdf[c].to_numpy(), counts[k]) for k in kinds])
                for c in carry
            }
            for c in cols:
                parts = []
                for k, n in zip(kinds, totals):
                    if c in chunks[k]:
                        parts.append(_merge(chunks[k][c]))
                    else:  # padded once per kind, not once per entity
                        parts.append(np.full(n, np.nan) if c in doubles else [None] * n)
                out[c] = _merge(parts)
            out["etype"] = np.repeat([_KINDS[k][0] for k in kinds], totals)
            yield pd.DataFrame(out)

    return pages.select(*carry, "html").mapInPandas(fn, schema)


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
