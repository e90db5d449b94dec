"""Entity predicates — the engine's user-function surface.

The reference's entire query language is a type mask + a tag-predicate
callback (/root/reference/gosmonaut.go:118-121, osm_types.go:151-174). Here
the predicate is a *Column expression* over the ``tags`` map so Catalyst can
push it below the assembly joins (the reference evaluates it before
materializing refs — /root/reference/gosmonaut.go:305,:367-369 — and
predicate pushdown gives us exactly that for free).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NODE = "node"
WAY = "way"
RELATION = "relation"
ALL_TYPES = frozenset({NODE, WAY, RELATION})

# output order rank, matching the reference's global type ordering
# nodes -> ways -> relations (/root/reference/gosmonaut_test.go:130-134,
# numeric OSMType ordering osm_types.go:10-17)
TYPE_RANK = {NODE: 1, WAY: 2, RELATION: 4}


def has_tag(key: str, tags: Column | str = "tags") -> Column:
    """``OSMTags.Has`` (/root/reference/osm_types.go:214-217)."""
    tags = F.col(tags) if isinstance(tags, str) else tags
    return F.map_contains_key(tags, F.lit(key))


def tag_equals(key: str, value: str, tags: Column | str = "tags") -> Column:
    """``OSMTags.HasValue`` (/root/reference/osm_types.go:225-229).
    A missing key yields NULL == value -> false after coalesce."""
    tags = F.col(tags) if isinstance(tags, str) else tags
    return F.coalesce(tags[key] == F.lit(value), F.lit(False))


def always_false() -> Column:
    return F.lit(False)
