"""gosmonaut_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Recasts the nested-entity pipeline of the reference (inimbir/gosmonaut, a Go
OpenStreetMap PBF decoder that emits fully resolved nested entities,
/root/reference/gosmonaut.go:118-217) as a multi-pass DataFrame job over a
table of Common-Crawl-style web pages ``(url, warc_ts, html, text, lang)``:

* Pass 0 — vectorized Arrow UDF decode of the binary ``html`` blobs
  (dictionary + delta + zigzag encoded geo payload, mirroring the PBF wire
  discipline of /root/reference/decode.go:491-519) into ``nodes`` /
  ``way_refs`` / ``rel_members`` DataFrames.
* Dependency passes — LEFT SEMI joins replacing the reference's bitset
  trackers (/root/reference/gosmonaut.go:245-318, id_tracker.go).
* Assembly passes — order-preserving sorted-merge joins + ordered
  re-aggregation replacing the reference's binary entity maps
  (/root/reference/gosmonaut.go:350-472, binary_entity_map.go).
* Tiling engine — hierarchical cell grid (res 0-15), point-in-polygon,
  kNN, raster<->vector roll-ups; all join keys are plain integers so
  Catalyst sees ordinary equi-joins.

Everything is DataFrame-first: built-in functions in the hot path, Arrow
batch UDFs (``mapInArrow``) only for the byte-level blob decode and the LSH
bucket pass.
"""

import os

__version__ = "0.1.0"

# Captured driver-side and shipped inside task closures: executor Python
# workers inherit PYTHONPATH, not the driver's sys.path, so a session driven
# from another cwd (or a cluster without --py-files) can't resolve the
# package. On a real cluster ship a wheel via --py-files; this fallback
# covers local mode and shared-filesystem clusters.
PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
