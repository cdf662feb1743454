"""Template → Spark ``Column`` compiler.

The reference resolves placeholders per event against a dict built for
every record (``core.rb:199-222``). This compiler performs that
resolution ONCE, driver-side, emitting vectorized ``Column``
expressions that Catalyst folds into whole-stage codegen — the
columnar inversion of the reference's row-at-a-time loop.

Semantics preserved (with file:line into /root/reference):

- null placeholder values stringify to ``""`` inside templates (Ruby
  ``gsub`` of nil, ``core.rb:236-239``) → ``coalesce(cast(c,string),'')``
- unknown placeholders → warning + ``""`` (``core.rb:244-248``)
- ``auto_typecast`` single-placeholder templates keep the native
  column type (``core.rb:228-235``, tests ``:405-511``)
- reserved keys shadow record keys for bare ``${key}`` access
  (``core.rb:211``); ``${record["key"]}`` always reads the record
- hash literal values expand keys AND values recursively
  (``core.rb:143-161``); arrays element-wise
- per-chunk tag hoisting (``core.rb:86-96``) generalizes to
  compile-time constant folding when the route's input tag is static
  (``static_tag``), and to byte-level string exprs when it is per-row
  (:func:`tag_piece_column`).
"""

from __future__ import annotations

import socket
from dataclasses import dataclass, field
from typing import Any, Optional, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from .template import (
    HostnameRef,
    Literal,
    RecordRef,
    TagAffixRef,
    TagPartRef,
    TagRef,
    TimeRef,
    Token,
    UnknownRef,
    tokenize,
)

# Matches Ruby's Time#to_s rendering "2010-05-04 03:02:01 +0000"
# (core.rb:191-193) under a UTC session timezone.
DEFAULT_TIME_FORMAT = "yyyy-MM-dd HH:mm:ss Z"


def _quoted(name: str) -> Column:
    """Column ref that tolerates dots/@ in field names (test :513-533)."""
    return F.col("`%s`" % name.replace("`", ""))


@dataclass
class ReformContext:
    """Binds spec placeholders to physical columns of the input frame.

    ``tag_col``/``time_col`` play the reference's event ``tag``/``time``
    (``core.rb:85-103``); every other column is a record field. When a
    record field must coexist with a same-named reserved column, map it
    via ``record_aliases`` (logical record key → physical column).

    ``static_tag``: when a route consumes one known tag (fluentd
    delivers per-match chunks of one tag, ``core.rb:86-96``), tag
    placeholders fold to compile-time literals — zero runtime cost.
    """

    tag_col: str = "tag"
    time_col: str = "ts"
    hostname: Optional[str] = None
    static_tag: Optional[str] = None
    record_aliases: dict[str, str] = field(default_factory=dict)
    time_format: str = DEFAULT_TIME_FORMAT
    warnings: list[str] = field(default_factory=list)

    def __post_init__(self) -> None:
        if self.hostname is None:
            self.hostname = socket.gethostname()

    # -- record-field resolution -------------------------------------
    def record_column(self, key: str, columns: Sequence[str]) -> Optional[Column]:
        phys = self.record_aliases.get(key, key)
        if phys in columns:
            return _quoted(phys)
        return None

    def warn(self, msg: str) -> None:
        self.warnings.append(msg)

    # -- tag decomposition (core.rb:86-88, 163-180) -------------------
    def tag_part(self, index: int) -> Optional[Column]:
        """``${tag_parts[N]}`` with negative indexing (core.rb:207)."""
        return self._tag_piece("part", index)

    def tag_affix(self, kind: str, index: int) -> Optional[Column]:
        """``${tag_prefix[N]}`` / ``${tag_suffix[N]}`` (core.rb:163-180).

        prefix of a.b.c = ["a","a.b","a.b.c"]; suffix = ["a.b.c","b.c","c"].
        """
        return self._tag_piece(kind, index)

    def _tag_piece(self, kind: str, index: int) -> Optional[Column]:
        if self.static_tag is not None:
            piece = static_tag_piece(self.static_tag, kind, index)
            return None if piece is None else F.lit(piece)  # None → unknown
        return tag_piece_column(_quoted(self.tag_col), kind, index)


def static_tag_piece(tag: str, kind: str, index: int) -> Optional[str]:
    """Compile-time ``${tag_parts|tag_prefix|tag_suffix[index]}`` of a
    known tag (``kind`` is "part", "prefix" or "suffix"); None when the
    index is out of range."""
    parts = tag.split(".")
    n = len(parts)
    if not -n <= index < n:
        return None
    i = index % n
    if kind == "part":
        return parts[i]
    return ".".join(parts[: i + 1] if kind == "prefix" else parts[i:])


def tag_piece_column(tag: Column, kind: str, index: int) -> Column:
    """Per-row ``${tag_parts|tag_prefix|tag_suffix[index]}``, NULL when
    the tag has too few parts (the reference's dict miss).

    Byte-level: built only from ``substring_index``, ``length`` and
    ``substring``, which scan the UTF-8 bytes for the one-byte ``.``
    inside whole-stage codegen. Counting dots with ``translate`` would
    decode every tag to a Java String and probe a HashMap per char, and
    a ``split`` array would allocate every part per row. Characters
    agree with bytes here because UTF-8 never puts ``.`` inside a
    multibyte character. With t the tag:

    - first c parts: ``substring_index(t, '.', c)``; last m parts:
      ``substring_index(t, '.', -m)``
    - without its first i parts:
      ``substring(t, length(substring_index(t, '.', i)) + 2)``
    - without its last j parts:
      ``substring(t, 1, length(t) - length(substring_index(t, '.', -j)) - 1)``
    - t has at least k parts (k >= 2) iff
      ``length(substring_index(t, '.', k - 1)) < length(t)``
    """

    def head(t: Column, c: int) -> Column:
        return F.substring_index(t, ".", c)

    def tail(t: Column, m: int) -> Column:
        return F.substring_index(t, ".", -m)

    if kind == "part":
        piece = tail(head(tag, index + 1), 1) if index >= 0 else head(tail(tag, -index), 1)
    elif kind == "prefix":
        if index >= 0:
            piece = head(tag, index + 1)
        elif index == -1:
            piece = tag
        else:
            dropped = F.length(tail(tag, -index - 1)) + F.lit(1)
            piece = F.substr(tag, F.lit(1), F.length(tag) - dropped)
    else:
        if index < 0:
            piece = tail(tag, -index)
        elif index == 0:
            piece = tag
        else:
            piece = F.substr(tag, F.length(head(tag, index)) + F.lit(2))
    need = index + 1 if index >= 0 else -index
    if need < 2:
        return piece
    return F.when(F.length(head(tag, need - 1)) < F.length(tag), piece)


def token_column(
    token: Token, ctx: ReformContext, columns: Sequence[str]
) -> Optional[Column]:
    """Resolve one placeholder token to its native-typed Column.

    Returns None for unresolvable tokens (→ "" + warning downstream,
    core.rb:244-248).
    """
    if isinstance(token, TagRef):
        return F.lit(ctx.static_tag) if ctx.static_tag is not None else _quoted(ctx.tag_col)
    if isinstance(token, TimeRef):
        return _quoted(ctx.time_col)
    if isinstance(token, HostnameRef):
        return F.lit(ctx.hostname)
    if isinstance(token, TagPartRef):
        return ctx.tag_part(token.index)
    if isinstance(token, TagAffixRef):
        return ctx.tag_affix(token.kind, token.index)
    if isinstance(token, RecordRef):
        col = ctx.record_column(token.key, columns)
        if col is None:
            return None
        if token.index is not None:
            col = F.try_element_at(
                col, F.lit(token.index + 1 if token.index >= 0 else token.index)
            )
        return col
    return None  # UnknownRef


def _string_piece(token: Token, col: Optional[Column], ctx: ReformContext) -> Column:
    """Render one token as a string fragment; nil → "" (core.rb:236-239)."""
    if isinstance(token, Literal):
        return F.lit(token.text)
    if col is None:
        return F.lit("")
    if isinstance(token, TimeRef):
        # Ruby renders Time#to_s for ${time} in templates (core.rb:191).
        col = F.date_format(col, ctx.time_format)
    return F.coalesce(col.cast("string"), F.lit(""))


def template_column(
    template: str,
    ctx: ReformContext,
    columns: Sequence[str],
    *,
    auto_typecast: bool = False,
    force_stringify: bool = False,
) -> Column:
    """Compile one string template to a Column.

    auto_typecast + exactly-one-placeholder → native type passthrough
    (core.rb:228-235); otherwise string concatenation of pieces.
    """
    tokens = tokenize(template)
    if (
        auto_typecast
        and not force_stringify
        and len(tokens) == 1
        and not isinstance(tokens[0], Literal)
    ):
        col = token_column(tokens[0], ctx, columns)
        if col is None:
            ctx.warn("unknown placeholder `%s` found" % template)
            return F.lit(None).cast("string")
        return col

    pieces = []
    for tok in tokens:
        col = None if isinstance(tok, Literal) else token_column(tok, ctx, columns)
        if col is None and isinstance(tok, (RecordRef, UnknownRef)):
            ctx.warn("unknown placeholder in `%s` found" % template)
        pieces.append(_string_piece(tok, col, ctx))
    if not pieces:
        return F.lit("")
    if len(pieces) == 1:
        return pieces[0]
    return F.concat(*pieces)


def static_template_value(template: str, ctx: ReformContext) -> Optional[str]:
    """Fold a template to a compile-time string when every token is a
    driver-side constant (literals, hostname, static-tag parts).

    Used for output *field names* containing placeholders (test
    :385-403) — a fixed-schema world needs names at compile time.
    """
    out: list[str] = []
    for tok in tokenize(template):
        if isinstance(tok, Literal):
            out.append(tok.text)
        elif isinstance(tok, HostnameRef):
            out.append(ctx.hostname or "")
        elif isinstance(tok, TagRef) and ctx.static_tag is not None:
            out.append(ctx.static_tag)
        elif isinstance(tok, (TagPartRef, TagAffixRef)) and ctx.static_tag is not None:
            kind = tok.kind if isinstance(tok, TagAffixRef) else "part"
            out.append(static_tag_piece(ctx.static_tag, kind, tok.index) or "")
        else:
            return None
    return "".join(out)


def compile_value(
    value: Any,
    ctx: ReformContext,
    columns: Sequence[str],
    *,
    auto_typecast: bool = False,
) -> Column:
    """Compile a spec value — string template, JSON hash/array literal
    (``core.rb:120-129``), or scalar — expanding placeholders
    recursively incl. hash keys (``core.rb:143-161``).

    Hash literals: all-static keys → ``struct`` (field types native);
    any dynamic key → ``map<string,string>`` (Spark maps need uniform
    value types; divergence from Ruby's heterogeneous Hash is pinned in
    tests).
    """
    if isinstance(value, str):
        return template_column(value, ctx, columns, auto_typecast=auto_typecast)
    if isinstance(value, dict):
        static_keys = [static_template_value(str(k), ctx) for k in value]
        if all(k is not None for k in static_keys):
            fields = [
                compile_value(v, ctx, columns, auto_typecast=auto_typecast).alias(sk)
                for sk, v in zip(static_keys, value.values())
            ]
            return F.struct(*fields)
        keys = [
            template_column(str(k), ctx, columns, force_stringify=True) for k in value
        ]
        vals = [
            compile_value(v, ctx, columns, auto_typecast=auto_typecast).cast("string")
            for v in value.values()
        ]
        return F.map_from_arrays(F.array(*keys), F.array(*vals))
    if isinstance(value, list):
        elems = [
            compile_value(v, ctx, columns, auto_typecast=auto_typecast) for v in value
        ]
        # Heterogeneous element types can't share a Spark array — keep
        # native when uniform-scalar via auto_typecast single tokens;
        # F.array itself enforces a common type, so rely on implicit
        # coercion and fall back to string on failure at analysis time.
        return F.array(*elems)
    return F.lit(value)
