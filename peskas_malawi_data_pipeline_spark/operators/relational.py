"""Projection / rename / filter / distinct / union operators (SURVEY §2.4, §2.9).

All narrow transformations (except distinct) — Catalyst fuses chains of these
into a single whole-stage-codegen stage, and column pruning/predicate pushdown
reach the Parquet scan.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def strip_prefixes(df: DataFrame, prefixes: Sequence[str]) -> DataFrame:
    """P2 — remove group-path prefixes from column names
    (`R/preprocessing.R:50-53`). Longest prefix wins; collisions keep the
    first occurrence (matching dplyr's rename semantics of erroring avoided
    by the reference's disjoint prefixes).
    """
    ordered = sorted(prefixes, key=len, reverse=True)

    def strip(name: str) -> str:
        for p in ordered:
            if name.startswith(p):
                return name[len(p):]
        return name

    new_names, seen = [], set()
    for c in df.columns:
        n = strip(c)
        if n in seen:
            n = c  # keep original on collision
        seen.add(n)
        new_names.append(n)
    return df.toDF(*new_names)


def drop_by_prefix(df: DataFrame, prefix: str = "_") -> DataFrame:
    """P3 — drop Kobo system fields (`select(-starts_with("_"))`,
    `R/preprocessing.R:54`)."""
    return df.drop(*[c for c in df.columns if c.startswith(prefix)])


def rename(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """P4 — targeted renames (`_id`→`submission_id` `R/ingestion.R:324`,
    `IMEI`→`imei` `R/merge_trips.R:66`)."""
    return df.withColumnsRenamed(mapping)


def select_ordered(df: DataFrame, ordered: Sequence[str | Column]) -> DataFrame:
    """P6/P7/P10 — explicit ordered projection. Column order is part of the
    reference's output contract (Mongo metadata doc, `R/storage.R:36-48`);
    with Parquet the schema itself is ordered, one `select` covers
    `select(1:4, ...)`, column-range selects, and chained `relocate`s
    (`R/export.R:47-64`, `R/preprocessing.R:311-319`, `R/validation.R:81-87`).
    """
    return df.select(*ordered)


def filter_not_in(df: DataFrame, column: str, values: Iterable) -> DataFrame:
    """P8 — exclusion filter (`catch_taxon != "0" & != "no_catch"`,
    `R/validation-functions.R:186,255`). NULLs are dropped, matching R
    where NA != "0" is NA and `filter` drops it: the reference's `&` of two
    `!=` drops NA rows, and so does this filter.
    """
    # NULL isin -> NULL; ~NULL -> NULL; filter drops it — matching R.
    return df.filter(~F.col(column).isin(list(values)))


def distinct_rows(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """P11 — full-row (or keyed) distinct (`R/preprocessing.R:310`).
    One shuffle on the dedup key; at scale prefer a keyed subset over
    whole-row distinct so the shuffle key is narrow.
    """
    return df.dropDuplicates(list(subset)) if subset else df.dropDuplicates()


def distinct_values(df: DataFrame, column: str) -> DataFrame:
    """P12 — distinct values of one column (`pull(Trip) %>% unique()`,
    `R/export.R:137-141`). Returns a 1-col DataFrame; collect at the caller
    only for driver-side fan-out (API fetch), never for data flow.
    """
    return df.select(column).distinct()


def union_by_name(dfs: Sequence[DataFrame], id_col: str | None = None,
                  tags: Sequence[str] | None = None) -> DataFrame:
    """U1 — union-by-name with missing-column fill + provenance id
    (`bind_rows(renamed_raw, .id="form_name")`, `R/ingestion.R:92`).

    Spark's ``unionByName(allowMissingColumns=True)`` reproduces dplyr's
    union-widening exactly: the output schema is the name-union, absent
    columns NULL-filled.
    """
    frames = list(dfs)
    if id_col is not None:
        tags = tags if tags is not None else [str(i + 1) for i in range(len(frames))]
        frames = [df.select(F.lit(t).alias(id_col), "*") for df, t in zip(frames, tags)]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)
