"""Pass 0 — pages-table scan and typed entity extraction.

The Spark recast of the reference's parallel blob decode
(/root/reference/decode.go:155-249): Spark's task scheduler replaces the
hand-rolled goroutine pool; each ``mapInPandas`` batch is the analog of one
PrimitiveBlock (Arrow batch size pinned to 8000, the reference's block
constant). Extraction is *typed* (one pass materializes one entity kind,
/root/reference/fast_blob_decoder.go:74-129): the GPB1 section directory lets
the decoder seek over sections it does not need, and Catalyst's column
pruning means a pass reads only ``(url, html)`` from parquet.

Output schemas (FIXTURES.md §2):

* ``nodes(url, id, lat, lon, tags)``
* ``ways_raw(url, id, tags, refs array<long>)`` — ``way_refs`` via posexplode
* ``relations_raw(url, id, tags, member_ids, member_types, member_roles)``
* ``texts(url, text_extracted)`` — byte-identity invariant surface
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Callable

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

NODES_SCHEMA = (
    "url string, id long, lat double, lon double, tags map<string,string>"
)
WAYS_RAW_SCHEMA = "url string, id long, tags map<string,string>, refs array<long>"
RELS_RAW_SCHEMA = (
    "url string, id long, tags map<string,string>, "
    "member_ids array<long>, member_types array<int>, member_roles array<string>"
)
TEXTS_SCHEMA = "url string, text_extracted string"


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


def _decode_batches(
    want: tuple[str, ...], emit: Callable[[str, "object"], dict]
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Build a mapInPandas function: decode each (url, html) batch with the
    vectorized numpy decoder and emit rows via ``emit(url, page)``."""

    pkg_root = _PKG_ROOT

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # import inside the task so only workers pay the import
        import sys

        if pkg_root not in sys.path:
            sys.path.insert(0, pkg_root)
        import numpy as np

        from gosmonaut_spark.format.gpb_numpy import decode_page_np

        for pdf in batches:
            # accumulate per-page columns, build ONE frame per Arrow batch
            acc: dict[str, list] = {}
            for url, blob in zip(pdf["url"], pdf["html"]):
                page = decode_page_np(bytes(blob), want=want)
                for k, v in emit(url, page).items():
                    acc.setdefault(k, []).append(v)
            if not acc:
                continue
            cols = {}
            for k, chunks in acc.items():
                if chunks and isinstance(chunks[0], np.ndarray):
                    cols[k] = np.concatenate(chunks)
                else:
                    merged: list = []
                    for c in chunks:
                        merged.extend(c)
                    cols[k] = merged
            yield pd.DataFrame(cols)

    return fn


def extract_nodes(pages: DataFrame) -> DataFrame:
    """Decode the nodes section of every page → flat nodes DataFrame.

    Coordinate projection per the reference (/root/reference/decode.go:517-519):
    ``deg = 1e-9 * granularity * unit`` — applied vectorized in numpy.
    """

    def emit(url, page):
        n = len(page.node_ids)
        return {
            "url": [url] * n,
            "id": page.node_ids,
            "lat": page.node_lat_units * COORD_SCALE,
            "lon": page.node_lon_units * COORD_SCALE,
            "tags": page.node_tags,
        }

    return pages.select("url", "html").mapInPandas(
        _decode_batches(("nodes",), emit), NODES_SCHEMA
    )


def extract_ways_raw(pages: DataFrame) -> DataFrame:
    """Decode the ways section → one row per way, refs as an ordered array."""

    def emit(url, page):
        import numpy as np

        nw = len(page.way_ids)
        bounds = np.cumsum(page.way_nrefs)[:-1] if nw else []
        refs = [a.tolist() for a in np.split(page.way_refs, bounds)] if nw else []
        return {
            "url": [url] * nw,
            "id": page.way_ids,
            "tags": page.way_tags,
            "refs": refs,
        }

    return pages.select("url", "html").mapInPandas(
        _decode_batches(("ways",), emit), WAYS_RAW_SCHEMA
    )


def extract_relations_raw(pages: DataFrame) -> DataFrame:
    """Decode the relations section → one row per relation, parallel member
    arrays preserved in input order (/root/reference/gosmonaut.go:427-440)."""

    def emit(url, page):
        import numpy as np

        nr = len(page.rel_ids)
        bounds = np.cumsum(page.rel_nmembers)[:-1] if nr else []
        mids = [a.tolist() for a in np.split(page.rel_member_ids, bounds)] if nr else []
        mtypes = (
            [a.astype("int32").tolist() for a in np.split(page.rel_member_types, bounds)]
            if nr
            else []
        )
        roles: list[list[str]] = []
        if nr:
            off = 0
            for c in page.rel_nmembers.tolist():
                roles.append(page.rel_member_roles[off : off + c])
                off += c
        return {
            "url": [url] * nr,
            "id": page.rel_ids,
            "tags": page.rel_tags,
            "member_ids": mids,
            "member_types": mtypes,
            "member_roles": roles,
        }

    return pages.select("url", "html").mapInPandas(
        _decode_batches(("rels",), emit), RELS_RAW_SCHEMA
    )


ENTITIES_SCHEMA = (
    "url string, id long, lat double, lon double, tags map<string,string>, "
    "refs array<long>, member_ids array<long>, member_types array<int>, "
    "member_roles array<string>, etype string"
)


def extract_entities(pages: DataFrame) -> DataFrame:
    """ONE decode pass emitting every entity kind (union schema, ``etype``
    discriminator) — the checkpointed pipeline's extraction stage.

    The three typed extractors each decompress every blob to seek their own
    section, so running them as separate passes pays the zlib inflate (the
    dominant extraction cost) three times; this is the reference's run-1
    behavior instead — one sequential scan that populates everything
    (/root/reference/decode.go:262-273). Downstream passes read the
    snapshot partitioned by ``etype`` with partition pruning, the analog of
    the reference's per-type blob index replay (decode.go:341-383).
    """
    pkg_root = _PKG_ROOT

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_root not in sys.path:
            sys.path.insert(0, pkg_root)
        import numpy as np

        from gosmonaut_spark.format.gpb import COORD_SCALE as _SCALE
        from gosmonaut_spark.format.gpb_numpy import decode_page_np

        for pdf in batches:
            urls: list = []
            ids: list = []
            lats: list = []
            lons: list = []
            tags: list = []
            refs: list = []
            mids: list = []
            mtypes: list = []
            mroles: list = []
            etypes: list = []
            for url, blob in zip(pdf["url"], pdf["html"]):
                page = decode_page_np(bytes(blob), want=("nodes", "ways", "rels"))
                nn = len(page.node_ids)
                nw = len(page.way_ids)
                nr = len(page.rel_ids)
                urls.extend([url] * (nn + nw + nr))
                etypes.extend(["node"] * nn + ["way"] * nw + ["relation"] * nr)
                ids.append(page.node_ids)
                ids.append(page.way_ids)
                ids.append(page.rel_ids)
                lats.append(page.node_lat_units * _SCALE)
                lats.append(np.full(nw + nr, np.nan))
                lons.append(page.node_lon_units * _SCALE)
                lons.append(np.full(nw + nr, np.nan))
                tags.extend(page.node_tags)
                tags.extend(page.way_tags)
                tags.extend(page.rel_tags)
                wb = np.cumsum(page.way_nrefs)[:-1] if nw else []
                refs.extend([None] * nn)
                refs.extend(
                    [a.tolist() for a in np.split(page.way_refs, wb)] if nw else []
                )
                refs.extend([None] * nr)
                rb = np.cumsum(page.rel_nmembers)[:-1] if nr else []
                mids.extend([None] * (nn + nw))
                mtypes.extend([None] * (nn + nw))
                mroles.extend([None] * (nn + nw))
                if nr:
                    mids.extend(
                        a.tolist() for a in np.split(page.rel_member_ids, rb)
                    )
                    mtypes.extend(
                        a.astype("int32").tolist()
                        for a in np.split(page.rel_member_types, rb)
                    )
                    off = 0
                    for c in page.rel_nmembers.tolist():
                        mroles.append(page.rel_member_roles[off : off + c])
                        off += c
            yield pd.DataFrame(
                {
                    "url": urls,
                    "id": np.concatenate(ids) if ids else [],
                    "lat": np.concatenate(lats) if lats else [],
                    "lon": np.concatenate(lons) if lons else [],
                    "tags": tags,
                    "refs": refs,
                    "member_ids": mids,
                    "member_types": mtypes,
                    "member_roles": mroles,
                    "etype": etypes,
                }
            )

    return pages.select("url", "html").mapInPandas(fn, ENTITIES_SCHEMA)


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

    def emit(url, page):
        return {"url": [url], "text_extracted": [page.text.decode("utf-8")]}

    return pages.select("url", "html").mapInPandas(
        _decode_batches(("text",), emit), TEXTS_SCHEMA
    )


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
