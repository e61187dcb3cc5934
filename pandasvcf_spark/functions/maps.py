"""Key/value payload parsing: VCF INFO strings, JSON event props, and
map-key literals.

The reference never parses INFO (SURVEY.md:184-186 — it stays an opaque
string), which makes half the 1000G fixture unqueryable. Declared engine
scope: `str_to_map` over `;`-separated `k=v` payloads (VCF INFO) and JSON
extraction over `events.props`-style columns. All native expressions —
`str_to_map` / `get_json_object` run JVM-side inside codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


#: Joins and splits `str_array_lit`'s values; never part of a VCF sample id,
#: since the ids come from the tab-split '#CHROM' line.
_ARRAY_LIT_SEP = "\t"


def str_array_lit(values: list[str]) -> Column:
    """ARRAY<STRING> literal of `values` built in O(1) py4j calls: one
    joined string literal, split on tab. `F.lit(list)` issues calls per
    value and builds an N-child `array(...)` that every later select
    re-analyzes. `split` of a literal is foldable, so the optimized plan
    holds the same array literal either way. Raises ValueError if a value
    contains a tab."""
    if not values:
        return F.array().cast("array<string>")
    bad = [v for v in values if _ARRAY_LIT_SEP in v]
    if bad:
        raise ValueError(f"array literal values contain a tab: {bad[:3]!r}")
    return F.split(F.lit(_ARRAY_LIT_SEP.join(values)), _ARRAY_LIT_SEP)


def info_map_expr(info: Column | str) -> Column:
    """MAP<STRING,STRING> from a VCF INFO payload (`AC=1;AF=0.5;DB`).

    Flag entries (no '=', e.g. 'DB') map to a NULL value — check flag
    membership with `map_contains_key`, not the value. A '.' (missing) or
    empty INFO yields an empty map. Values containing '=' split on the
    FIRST one only.

    Built with split + zip + first-occurrence dedup rather than
    `str_to_map`: a malformed INFO that repeats a key ('AC=1;AC=2') would
    otherwise abort the whole job with DUPLICATED_MAP_KEY under the default
    EXCEPTION map-dedup policy (same guard `format_map_expr` has). Repeated
    keys degrade to first-wins; never an ANSI runtime error."""
    cleaned = F.nullif(F.trim(_c(info)), F.lit("."))
    parts = F.filter(F.split(cleaned, ";"), lambda e: e != "")
    keys = F.transform(parts, lambda e: F.substring_index(e, "=", 1))
    entries = F.transform(
        parts,
        lambda e: F.struct(
            F.substring_index(e, "=", 1).alias("key"),
            # value = everything after the FIRST '='; flags (no '=') -> NULL
            F.when(
                e.contains("="),
                e.substr(
                    F.length(F.substring_index(e, "=", 1)) + F.lit(2),
                    F.length(e),
                ),
            ).alias("value"),
        ),
    )
    deduped = F.filter(
        entries,
        lambda ent, i: F.array_position(keys, ent["key"]) == i + 1,
    )
    return F.when(
        cleaned.isNull(), F.map_from_arrays(F.array(), F.array())
    ).otherwise(F.map_from_entries(deduped))


def info_field_expr(
    info: Column | str, key: str, cast: str | None = None
) -> Column:
    """One INFO field by key; optionally try_cast to a type ('int',
    'double', ...). Missing key → NULL, malformed value → NULL (never an
    ANSI runtime error)."""
    v = F.try_element_at(info_map_expr(info), F.lit(key))
    return v.try_cast(cast) if cast else v


def json_field_expr(
    js: Column | str, key: str, cast: str | None = None
) -> Column:
    """Extract `$.key` from a JSON string column (events.props shape).
    get_json_object is a streaming JSON path scan — no schema inference
    pass, which matters when props is a 100 TB column."""
    v = F.get_json_object(_c(js), f"$.{key}")
    return v.try_cast(cast) if cast else v
