"""Route stage: tag-pattern fan-out to sinks.

The reference re-emits each reformed event into fluentd's router
(``core.rb:110``); downstream ``<match pattern>`` blocks pick events
by tag glob (``example/example.conf:7,18``, ``README.md:23``). Here a
:class:`RouteTable` compiles those globs to Column predicates with
fluentd's FIRST-MATCH-WINS semantics, and the fan-out writes ALL sinks
in ONE pass via ``partitionBy`` on the route column — at 100 TB, N
filtered writes would mean N full scans; one partitioned write means
one.

fluentd glob semantics (public fluentd match rules):
- ``*``  matches exactly one tag part: ``a.*`` matches ``a.b``,
  not ``a`` or ``a.b.c``
- ``**`` matches zero or more parts: ``a.**`` matches ``a``, ``a.b``,
  ``a.b.c``
- ``{x,y}`` alternation is supported anywhere — mid-part
  (``a.x{b,c}``) and with alternatives containing dots (``{a.b,c}``),
  matching fluentd's GlobMatchPattern; expansion happens before the
  pattern is split into parts (see :func:`expand_braces`)
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

UNMATCHED = "__unmatched__"


def expand_braces(pattern: str) -> list[str]:
    """Expand ``{a,b}`` alternation into the cartesian set of
    brace-free glob patterns. fluentd's GlobMatchPattern allows braces
    ANYWHERE — mid-part (``a.x{b,c}``) and with alternatives that
    contain dots (``{a.b,c}``) — so alternation must be resolved
    BEFORE the pattern is split into dot-parts. Nested braces expand
    recursively; an unbalanced brace raises (never a silently
    never-matching regex)."""
    depth = 0
    start = -1
    for i, ch in enumerate(pattern):
        if ch == "{":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "}":
            depth -= 1
            if depth < 0:
                raise ValueError(f"unbalanced '}}' in tag glob {pattern!r}")
            if depth == 0:
                head, body, tail = pattern[:start], pattern[start + 1 : i], pattern[i + 1 :]
                alts: list[str] = []
                d = 0
                cur = ""
                for c in body:
                    if c == "{":
                        d += 1
                    elif c == "}":
                        d -= 1
                    if c == "," and d == 0:
                        alts.append(cur)
                        cur = ""
                    else:
                        cur += c
                alts.append(cur)
                out = [
                    expanded
                    for a in alts
                    for expanded in expand_braces(head + a + tail)
                ]
                if len(out) > 4096:
                    raise ValueError(
                        f"tag glob {pattern!r} expands to {len(out)} "
                        "alternatives — refusing (likely a config error)"
                    )
                return out
    if depth != 0:
        raise ValueError(f"unbalanced '{{' in tag glob {pattern!r}")
    return [pattern]


def _glob_body(pattern: str) -> str:
    """Regex body (unanchored) for ONE brace-free glob pattern.

    Part-based construction so ``**`` truly matches ZERO or more parts
    in every position: ``**.a`` matches ``a`` and ``x.a``; ``a.**``
    matches ``a`` and ``a.b.c``; ``a.**.b`` matches ``a.b`` and
    ``a.x.b`` (a char-based compiler turns a leading ``**.`` into
    ``.*\\.``, wrongly requiring at least one part — caught by the
    differential property test against an independent part matcher).
    """
    parts = pattern.split(".")
    # consecutive ** parts are one zero-or-more-parts wildcard
    # (a.**.**.b == a.**.b; emitting two would demand an empty part)
    parts = [p for i, p in enumerate(parts) if not (p == "**" and i > 0 and parts[i - 1] == "**")]

    def part_regex(p: str) -> str:
        if p == "*":
            return r"[^.]+"  # exactly one part (no dots)
        # '*' inside a part (a.x* style prefix match) — zero or more
        # non-dot chars, fluentd GlobMatchPattern semantics
        return "".join(r"[^.]*" if ch == "*" else re.escape(ch) for ch in p)

    out: list[str] = []
    for i, p in enumerate(parts):
        first, last = i == 0, i == len(parts) - 1
        if p == "**":
            if last:
                # zero or more trailing parts; the separator is optional
                out.append(r".*" if first else r"(\..+)?")
            elif first:
                out.append(r"(?:[^.]+\.)*")  # zero or more leading parts
            else:
                out.append(r"(?:\.[^.]+)*")  # zero or more middle parts
                out.append(r"\.")  # separator owed to the NEXT part
            continue
        if not first and parts[i - 1] != "**":
            # a preceding ** already emitted the owed separator
            out.append(r"\.")
        out.append(part_regex(p))
    return "".join(out)


def glob_to_regex(pattern: str) -> str:
    """Compile one fluentd tag glob to an anchored Java regex:
    brace alternation expanded first (see :func:`expand_braces`),
    each brace-free expansion compiled part-based, OR-joined."""
    bodies = [_glob_body(p) for p in expand_braces(pattern)]
    if len(bodies) == 1:
        return "^" + bodies[0] + "$"
    return "^(?:" + "|".join(bodies) + ")$"


@dataclass(frozen=True)
class Route:
    name: str  # sink name (also the partition value)
    pattern: str  # fluentd tag glob


class RouteTable:
    """Ordered routes, first match wins (fluentd router semantics)."""

    def __init__(self, routes: Sequence[Route]):
        self.routes = list(routes)

    def route_column(self, tag_col: str = "tag") -> Column:
        """One CASE expression assigning each event its sink name —
        a single codegen'd pass, no per-route scans.

        A glob with no ``*`` and no braces is a literal L; its branch is
        ``tag = L OR (startswith(tag, L) AND tag RLIKE glob_to_regex(L))``.
        That equals the regex alone: Java's ``$`` also matches before a
        final line terminator, so ``L\\n`` and ``L\\r\\n`` still route,
        and a NULL tag stays unmatched. The byte compares settle rows
        equal to L or not starting with it, so no regex runs for them.
        Wildcard globs keep the plain regex."""
        col = F.lit(UNMATCHED)
        expr: Optional[Column] = None
        tag = F.col(tag_col)
        for r in self.routes:
            cond = tag.rlike(glob_to_regex(r.pattern))
            if not any(ch in r.pattern for ch in "*{}"):
                cond = (tag == F.lit(r.pattern)) | (tag.startswith(r.pattern) & cond)
            expr = F.when(cond, F.lit(r.name)) if expr is None else expr.when(cond, F.lit(r.name))
        return expr.otherwise(col) if expr is not None else col

    def assign(self, df: DataFrame, tag_col: str = "tag", route_col: str = "route") -> DataFrame:
        return df.withColumn(route_col, self.route_column(tag_col))

    def only(self, df: DataFrame, name: str, tag_col: str = "tag") -> DataFrame:
        """Events for one sink (respecting first-match precedence)."""
        return self.assign(df, tag_col).filter(F.col("route") == name).drop("route")


def write_fanout(
    df: DataFrame,
    table: RouteTable,
    base_path: str,
    tag_col: str = "tag",
    fmt: str = "parquet",
    extra_partition_cols: Sequence[str] = (),
    drop_unmatched: bool = True,
    mode: str = "append",
) -> None:
    """Single-pass fan-out: assign route, then ONE partitioned write.

    ``extra_partition_cols`` (e.g. an hour bucket) adds Iceberg-style
    hidden-partitioning structure so downstream per-sink readers get
    partition pruning for free.
    """
    routed = table.assign(df, tag_col)
    if drop_unmatched:
        routed = routed.filter(F.col("route") != UNMATCHED)
    (
        routed.write.mode(mode)
        .partitionBy("route", *extra_partition_cols)
        .format(fmt)
        .save(base_path)
    )


def write_fanout_catalog(
    df: DataFrame,
    table: RouteTable,
    catalog,
    sink_name: str,
    tag_col: str = "tag",
    extra_partition_cols: Sequence[str] = (),
    drop_unmatched: bool = True,
    mode: str = "append",
) -> None:
    """Single-pass fan-out through the catalog seam
    (sources/catalog.py): ONE sink table, the route column as its
    (hidden) partition. On Iceberg this is one transactional append
    snapshot covering every route; on the parquet fallback it is the
    same partitionBy layout as :func:`write_fanout`. The preferred
    shape at 100 TB — one scan, one write."""
    routed = table.assign(df, tag_col)
    if drop_unmatched:
        routed = routed.filter(F.col("route") != UNMATCHED)
    catalog.write(
        routed, sink_name, mode=mode, partition_by=("route", *extra_partition_cols)
    )


def write_fanout_tables(
    df: DataFrame,
    table: RouteTable,
    catalog,
    tag_col: str = "tag",
    mode: str = "append",
    table_for_route=None,
) -> dict[str, str]:
    """Per-route SINK TABLES — the "multiple Iceberg sinks" shape: one
    transactional append per route. Requires one pass per route over
    the routed frame, so it persists the (already filtered+projected)
    routed rows first; prefer :func:`write_fanout_catalog` when all
    sinks can share a table with a route partition. Returns
    {route -> table name}."""
    table_for_route = table_for_route or (lambda r: f"sink_{r}")
    routed = table.assign(df, tag_col).filter(F.col("route") != UNMATCHED).persist()
    written: dict[str, str] = {}
    try:
        for r in table.routes:
            name = table_for_route(r.name)
            catalog.write(
                routed.filter(F.col("route") == r.name).drop("route"),
                name,
                mode=mode,
            )
            written[r.name] = name
    finally:
        routed.unpersist()
    return written
