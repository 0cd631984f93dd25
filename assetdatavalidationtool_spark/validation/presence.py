"""Presence matrix / MatchesAll / MissingByFile (Validator.cs:39-91).

Sources are ``{display_name: (DataFrame, key_col)}``. Keys are
normalized (trim + case-fold) and blanks dropped, mirroring the
reference's OrdinalIgnoreCase HashSets (Validator.cs:59-64).

Scale shape: the three views share ONE aggregate, ``_presence``: the
tagged key union grouped by key into ``present_in`` (the set of sources
holding it). Each view is then one narrow projection of that aggregate:
KeyPresence is ``array_contains`` per source, MatchesAll is
``size(present_in) = N`` (no chain of N joins), MissingByFile explodes
``array_except(all sources, present_in)`` (no N anti-joins). Each view
alone scans every source once and shuffles once on the normalized key;
``validate_sources`` persists one ``_presence`` for all three.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..normalize import norm_key

Sources = dict[str, tuple[DataFrame, str]]


def source_keys(df: DataFrame, key_col: str) -> DataFrame:
    """Distinct normalized non-blank keys of one source → column ``key``."""
    return (
        df.select(norm_key(F.col(key_col)).alias("key"))
        .where(F.col("key").isNotNull() & (F.col("key") != ""))
        .distinct()
    )


def _presence(sources: Sources) -> DataFrame:
    """(key, present_in): every normalized non-blank key with the set of
    sources holding it. One ``collect_set`` aggregate over the tagged,
    non-distinct key union — its map-side partial aggregate dedupes, so
    a per-source ``distinct`` would only add one exchange per source."""
    tagged = [
        df.select(norm_key(F.col(key)).alias("key"), F.lit(name).alias("source"))
        .where(F.col("key").isNotNull() & (F.col("key") != ""))
        for name, (df, key) in sources.items()
    ]
    return (
        reduce(DataFrame.unionByName, tagged)
        .groupBy("key")
        .agg(F.collect_set("source").alias("present_in"))
    )


def presence_views(sources: Sources) -> dict[str, DataFrame]:
    """KeyPresence, MatchesAll and MissingByFile as projections of one
    :func:`_presence` aggregate of ``sources``."""
    presence = _presence(sources)
    all_names = F.array(*[F.lit(n) for n in sources])
    return {
        "KeyPresence": presence.select(
            "key",
            *[F.array_contains("present_in", n).alias(f"present_{n}") for n in sources],
        ),
        "MatchesAll": presence.where(F.size("present_in") == len(sources)).select("key"),
        "MissingByFile": presence.select(
            F.explode(F.array_except(all_names, "present_in")).alias("source"), "key"),
    }


def key_presence(sources: Sources) -> DataFrame:
    """One row per key in the union of key sets; boolean ``present_<src>``
    per source (KeyPresence, Validator.cs:67-79)."""
    return presence_views(sources)["KeyPresence"]


def matches_all(sources: Sources) -> DataFrame:
    """Keys present in every source (Validator.cs:81-84)."""
    return presence_views(sources)["MatchesAll"]


def missing_by_file(sources: Sources) -> DataFrame:
    """(source, key) pairs where the key exists elsewhere but not in
    ``source`` (Validator.cs:86-91)."""
    return presence_views(sources)["MissingByFile"]
