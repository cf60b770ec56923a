"""ClickHouse-compatible result FORMAT renderers + type-name mapping.

The reference's deployed nodes serve the ClickHouse HTTP interface on
port 8123 (``ch/config.xml:133``): ``GET/POST /?query=...`` returning
the result rendered in the requested ``FORMAT`` (TabSeparated by
default, ``JSON``/``JSONEachRow``/``CSV``/... on demand). This module
implements the result-side renderers for the Spark engine — the
request side lives in ``server.py``.

Renderers are pure functions over the engine's ``(cols, rows, types)``
result shape; nothing here touches Spark. Type names are rendered in
ClickHouse spelling (``Int64``, ``Float64``, ``DateTime64(6)``,
``Array(String)``, ...) derived from the Spark result schema, so the
``JSON`` format's ``meta`` block and the wire protocols (pgwire /
mysqlwire) share one honest, schema-derived source of truth instead of
sampling row values.
"""

from __future__ import annotations

import json
import re
import secrets
import struct
from datetime import date, datetime, timedelta
from decimal import Decimal
from typing import Any, Sequence

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Spark schema → ClickHouse type names
# ---------------------------------------------------------------------------


def ch_type_name(dt: T.DataType, nullable: bool = False) -> str:
    """ClickHouse spelling for a Spark ``DataType``. ``nullable``
    wraps scalar types in ``Nullable(...)`` the way CH result meta
    does; composite types are never wrapped (CH forbids
    ``Nullable(Array)``)."""
    name: str
    if isinstance(dt, T.ByteType):
        name = "Int8"
    elif isinstance(dt, T.ShortType):
        name = "Int16"
    elif isinstance(dt, T.IntegerType):
        name = "Int32"
    elif isinstance(dt, T.LongType):
        name = "Int64"
    elif isinstance(dt, T.FloatType):
        name = "Float32"
    elif isinstance(dt, T.DoubleType):
        name = "Float64"
    elif isinstance(dt, T.DecimalType):
        name = f"Decimal({dt.precision}, {dt.scale})"
    elif isinstance(dt, T.BooleanType):
        name = "Bool"
    elif isinstance(dt, T.DateType):
        name = "Date"
    elif isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        # Spark timestamps are microsecond precision.
        name = "DateTime64(6)"
    elif isinstance(dt, T.ArrayType):
        return f"Array({ch_type_name(dt.elementType)})"
    elif isinstance(dt, T.MapType):
        return (
            f"Map({ch_type_name(dt.keyType)}, "
            f"{ch_type_name(dt.valueType)})"
        )
    elif isinstance(dt, T.StructType):
        inner = ", ".join(
            f"{f.name} {ch_type_name(f.dataType)}" for f in dt.fields
        )
        return f"Tuple({inner})"
    elif isinstance(dt, T.NullType):
        return "Nullable(Nothing)"
    else:  # StringType, BinaryType, CharType, VarcharType, ...
        name = "String"
    return f"Nullable({name})" if nullable else name


def ch_type_names(schema: T.StructType) -> list[str]:
    return [ch_type_name(f.dataType, f.nullable) for f in schema.fields]


def ch_base_type(name: str) -> str:
    """Strip ``Nullable(...)`` and parameters: ``Nullable(Decimal(10,
    2))`` → ``Decimal``. Used by the wire protocols to pick OIDs."""
    m = re.match(r"Nullable\((.*)\)$", name)
    if m:
        name = m.group(1)
    return re.split(r"\(", name, 1)[0]


# ---------------------------------------------------------------------------
# Trailing result-side FORMAT clause
# ---------------------------------------------------------------------------

_FORMAT_TAIL_RE = re.compile(r"\bFORMAT\s+(\w+)\s*;?\s*$", re.IGNORECASE)
_INSERT_RE = re.compile(r"^\s*INSERT\b", re.IGNORECASE)


def split_result_format(sql: str) -> tuple[str, str | None]:
    """Split a trailing ``FORMAT <name>`` off a SELECT-ish query
    (``SELECT 1 FORMAT JSONEachRow`` → ``("SELECT 1",
    "JSONEachRow")``). INSERT statements are returned untouched —
    there ``FORMAT`` introduces the inline data payload, which the
    engine parses itself (``engine._INSERT_FMT_RE``)."""
    if _INSERT_RE.match(sql):
        return sql, None
    m = _FORMAT_TAIL_RE.search(sql)
    if not m:
        return sql, None
    name = m.group(1)
    if name.lower() not in _CANONICAL:
        # CH errors on unknown format names; silently stripping the
        # clause would hand the client TabSeparated it didn't ask for
        raise ValueError(
            f"Unknown format {name!r} (code 73); supported: "
            + ", ".join(sorted(_RENDERERS))
        )
    return sql[: m.start()].rstrip(), _CANONICAL[name.lower()]


# ---------------------------------------------------------------------------
# Value rendering (CH text conventions)
# ---------------------------------------------------------------------------


def _text(v: Any) -> str:
    """CH text rendering shared by CSV/TSV/Pretty: DateTime with a
    space separator, arrays in bracket-literal form."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f") if v.microsecond else (
            v.strftime("%Y-%m-%d %H:%M:%S")
        )
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_quoted_elem(x) for x in v) + "]"
    if isinstance(v, dict):
        return (
            "{" + ",".join(
                f"{_quoted_elem(k)}:{_quoted_elem(x)}" for k, x in v.items()
            ) + "}"
        )
    return str(v)


def _quoted_elem(v: Any) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, (list, tuple, dict)):
        return _text(v)
    return _text(v)


# CH prints Decimals in JSON as exact number tokens
# (output_format_json_quote_decimals = 0, trailing zeros dropped).
# json.dumps has no hook that emits a raw token, so a fractional
# Decimal travels through it as a marked string whose quotes
# _json_dumps strips. The marker holds a per-process random nonce, so
# no user string can forge one.
_DECIMAL_MARK = "bhdec" + secrets.token_hex(8) + ":"
_DECIMAL_TOKEN = re.compile(f'"{_DECIMAL_MARK}(-?[0-9.]+)"')


def _json_decimal(v: Decimal) -> Any:
    if v == v.to_integral_value():
        return int(v)  # json.dumps prints ints exactly
    return _DECIMAL_MARK + format(v.normalize(), "f")


def _json_dumps(doc: Any, **kw: Any) -> str:
    out = json.dumps(doc, ensure_ascii=False, **kw)
    if _DECIMAL_MARK in out:
        out = _DECIMAL_TOKEN.sub(r"\1", out)
    return out


def _json_value(v: Any, decimal: Any = _json_decimal) -> Any:
    """``v`` as a json.dumps-able value; ``decimal`` converts Decimals
    (pass ``float`` for consumers that are not _json_dumps)."""
    if isinstance(v, float) and (v != v or v in (float("inf"), float("-inf"))):
        # Bare NaN/Infinity is not valid JSON (json.dumps would emit
        # it anyway); CH renders denormals as null by default.
        return None
    if isinstance(v, datetime):
        return _text(v)
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, Decimal):
        return decimal(v)
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if isinstance(v, (list, tuple)):
        return [_json_value(x, decimal) for x in v]
    if isinstance(v, dict):
        return {str(k): _json_value(x, decimal) for k, x in v.items()}
    return v


def _csv_cell(v: Any) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, (int, float, Decimal)) and not isinstance(v, bool):
        return _text(v)
    s = _text(v)
    return '"' + s.replace('"', '""') + '"'


def _tsv_cell(v: Any) -> str:
    if v is None:
        return "\\N"
    s = _text(v)
    return (
        s.replace("\\", "\\\\")
        .replace("\t", "\\t")
        .replace("\n", "\\n")
        .replace("\r", "\\r")
    )


def _tsv_raw_cell(v: Any) -> str:
    # TabSeparatedRaw: values verbatim, NO escaping (CH's Raw
    # variant — the caller guarantees no tabs/newlines in the data).
    return "\\N" if v is None else _text(v)


# ---------------------------------------------------------------------------
# Format renderers: (cols, rows, types, elapsed) → bytes
# ---------------------------------------------------------------------------


def _render_json(cols, rows, types, elapsed) -> bytes:
    types = types or ["String"] * len(cols)
    doc = {
        "meta": [
            {"name": c, "type": t} for c, t in zip(cols, types)
        ],
        "data": [
            {c: _json_value(v) for c, v in zip(cols, row)} for row in rows
        ],
        "rows": len(rows),
        "statistics": {
            "elapsed": elapsed, "rows_read": len(rows), "bytes_read": 0
        },
    }
    return (_json_dumps(doc, indent=1) + "\n").encode()


def _render_json_compact(cols, rows, types, elapsed) -> bytes:
    types = types or ["String"] * len(cols)
    doc = {
        "meta": [
            {"name": c, "type": t} for c, t in zip(cols, types)
        ],
        "data": [[_json_value(v) for v in row] for row in rows],
        "rows": len(rows),
        "statistics": {
            "elapsed": elapsed, "rows_read": len(rows), "bytes_read": 0
        },
    }
    return (_json_dumps(doc, indent=1) + "\n").encode()


def _render_json_each_row(cols, rows, types, elapsed) -> bytes:
    out = [
        _json_dumps({c: _json_value(v) for c, v in zip(cols, row)})
        for row in rows
    ]
    return ("\n".join(out) + ("\n" if out else "")).encode()


def _render_json_compact_each_row(cols, rows, types, elapsed) -> bytes:
    out = [
        _json_dumps([_json_value(v) for v in row])
        for row in rows
    ]
    return ("\n".join(out) + ("\n" if out else "")).encode()


def _render_csv(header: bool, types_row: bool = False):
    def render(cols, rows, types, elapsed) -> bytes:
        lines = []
        if header:
            lines.append(",".join(_csv_cell(c) for c in cols))
        if types_row:
            lines.append(
                ",".join(
                    _csv_cell(t) for t in (types or ["String"] * len(cols))
                )
            )
        lines.extend(
            ",".join(_csv_cell(v) for v in row) for row in rows
        )
        return ("\n".join(lines) + ("\n" if lines else "")).encode()

    return render


def _render_tsv(header: bool, types_row: bool = False):
    def render(cols, rows, types, elapsed) -> bytes:
        lines = []
        if header:
            lines.append("\t".join(_tsv_cell(c) for c in cols))
        if types_row:
            lines.append(
                "\t".join(
                    _tsv_cell(t) for t in (types or ["String"] * len(cols))
                )
            )
        lines.extend(
            "\t".join(_tsv_cell(v) for v in row) for row in rows
        )
        return ("\n".join(lines) + ("\n" if lines else "")).encode()

    return render


def _render_tsv_raw(cols, rows, types, elapsed) -> bytes:
    lines = [
        "\t".join(_tsv_raw_cell(v) for v in row) for row in rows
    ]
    return ("\n".join(lines) + ("\n" if lines else "")).encode()


def _render_null(cols, rows, types, elapsed) -> bytes:
    # FORMAT Null: execute fully, emit nothing (CH's benchmarking
    # format). The streaming path pairs it with toLocalIterator, so
    # the result is never materialized anywhere.
    return b""


def _render_values(cols, rows, types, elapsed) -> bytes:
    return (
        ",".join(
            "(" + ",".join(_quoted_elem(v) for v in row) + ")"
            for row in rows
        )
    ).encode() + (b"\n" if rows else b"")


def _render_pretty(cols, rows, types, elapsed) -> bytes:
    cells = [[_text(v) if v is not None else "ᴺᵁᴸᴸ" for v in row]
             for row in rows]
    widths = [
        max(len(c), *(len(r[i]) for r in cells)) if cells else len(c)
        for i, c in enumerate(cols)
    ]
    sep = "+" + "+".join("-" * (w + 2) for w in widths) + "+"
    out = [sep,
           "|" + "|".join(f" {c:<{w}} " for c, w in zip(cols, widths)) + "|",
           sep]
    for r in cells:
        out.append(
            "|" + "|".join(f" {v:<{w}} " for v, w in zip(r, widths)) + "|"
        )
    out.append(sep)
    return ("\n".join(out) + "\n").encode()


def _render_vertical(cols, rows, types, elapsed) -> bytes:
    out: list[str] = []
    for i, row in enumerate(rows, 1):
        head = f"Row {i}:"
        out.append(head)
        out.append("─" * len(head))
        for c, v in zip(cols, row):
            out.append(
                f"{c}: {_text(v) if v is not None else 'ᴺᵁᴸᴸ'}"
            )
        out.append("")
    return ("\n".join(out)).encode()


_NUMERIC_CH_PREFIXES = (
    "Int", "UInt", "Float", "Decimal", "Nullable(Int",
    "Nullable(UInt", "Nullable(Float", "Nullable(Decimal",
)


def _render_markdown(cols, rows, types, elapsed) -> bytes:
    types = types or ["String"] * len(cols)

    def cell(v):
        s = _text(v) if v is not None else "ᴺᵁᴸᴸ"
        return s.replace("|", "\\|")

    out = ["| " + " | ".join(cols) + " |"]
    out.append(
        "|"
        + "|".join(
            "---:" if t.startswith(_NUMERIC_CH_PREFIXES) else ":---"
            for t in types
        )
        + "|"
    )
    for row in rows:
        out.append("| " + " | ".join(cell(v) for v in row) + " |")
    return ("\n".join(out) + "\n").encode()


def _render_tskv(cols, rows, types, elapsed) -> bytes:
    out = [
        "\t".join(f"{c}={_tsv_cell(v)}" for c, v in zip(cols, row))
        for row in rows
    ]
    return ("\n".join(out) + ("\n" if out else "")).encode()


def _render_json_strings(cols, rows, types, elapsed) -> bytes:
    types = types or ["String"] * len(cols)
    doc = {
        "meta": [{"name": c, "type": t} for c, t in zip(cols, types)],
        "data": [
            {
                c: (None if v is None else _text(v))
                for c, v in zip(cols, row)
            }
            for row in rows
        ],
        "rows": len(rows),
        "statistics": {
            "elapsed": elapsed, "rows_read": len(rows), "bytes_read": 0
        },
    }
    return (json.dumps(doc, ensure_ascii=False, indent=1) + "\n").encode()


def _render_json_strings_each_row(cols, rows, types, elapsed) -> bytes:
    out = [
        json.dumps(
            {
                c: (None if v is None else _text(v))
                for c, v in zip(cols, row)
            },
            ensure_ascii=False,
        )
        for row in rows
    ]
    return ("\n".join(out) + ("\n" if out else "")).encode()


def _render_json_columns(cols, rows, types, elapsed) -> bytes:
    doc = {
        c: [_json_value(row[i]) for row in rows]
        for i, c in enumerate(cols)
    }
    return (_json_dumps(doc, indent=1) + "\n").encode()


def _render_json_compact_columns(cols, rows, types, elapsed) -> bytes:
    doc = [
        [_json_value(row[i]) for row in rows] for i in range(len(cols))
    ]
    return (_json_dumps(doc) + "\n").encode()


def _render_json_object_each_row(cols, rows, types, elapsed) -> bytes:
    doc = {
        f"row_{i}": {c: _json_value(v) for c, v in zip(cols, row)}
        for i, row in enumerate(rows, 1)
    }
    return (_json_dumps(doc, indent=1) + "\n").encode()


_XML_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_.-]*$")


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def _render_xml(cols, rows, types, elapsed) -> bytes:
    types = types or ["String"] * len(cols)
    out = ["<?xml version='1.0' encoding='UTF-8' ?>", "<result>",
           "\t<meta>", "\t\t<columns>"]
    for c, t in zip(cols, types):
        out.append("\t\t\t<column>")
        out.append(f"\t\t\t\t<name>{_xml_escape(c)}</name>")
        out.append(f"\t\t\t\t<type>{_xml_escape(t)}</type>")
        out.append("\t\t\t</column>")
    out += ["\t\t</columns>", "\t</meta>", "\t<data>"]
    for row in rows:
        out.append("\t\t<row>")
        for c, v in zip(cols, row):
            tag = c if _XML_NAME_RE.match(c) else "field"
            if v is None:
                out.append(f"\t\t\t<{tag} xsi:nil=\"true\" />")
            else:
                out.append(
                    f"\t\t\t<{tag}>{_xml_escape(_text(v))}</{tag}>"
                )
        out.append("\t\t</row>")
    out += ["\t</data>", f"\t<rows>{len(rows)}</rows>", "</result>"]
    return ("\n".join(out) + "\n").encode()


def _render_line_as_string(cols, rows, types, elapsed) -> bytes:
    if len(cols) != 1:
        raise ValueError(
            "LineAsString needs exactly one column in the result, got "
            f"{len(cols)}"
        )
    out = [
        "" if row[0] is None else _text(row[0]) for row in rows
    ]
    return ("\n".join(out) + ("\n" if out else "")).encode()


def _render_raw_blob(cols, rows, types, elapsed) -> bytes:
    if len(cols) != 1:
        raise ValueError(
            "RawBLOB needs exactly one column in the result, got "
            f"{len(cols)}"
        )
    parts = []
    for row in rows:
        v = row[0]
        if v is None:
            continue
        parts.append(v if isinstance(v, bytes) else _text(v).encode())
    return b"".join(parts)


def _render_pretty_space(cols, rows, types, elapsed) -> bytes:
    cells = [[_text(v) if v is not None else "ᴺᵁᴸᴸ" for v in row]
             for row in rows]
    widths = [
        max(len(c), *(len(r[i]) for r in cells)) if cells else len(c)
        for i, c in enumerate(cols)
    ]
    out = [" " + "   ".join(f"{c:<{w}}" for c, w in zip(cols, widths))]
    for r in cells:
        out.append(
            " " + "   ".join(f"{v:<{w}}" for v, w in zip(r, widths))
        )
    return ("\n".join(out) + "\n").encode()


def _arrow_table(cols, rows, types):
    """Build a pyarrow Table from the collected result. Types come
    from the row VALUES (pyarrow inference) — the CH type names in
    ``types`` describe wire semantics, while the binary formats carry
    their own exact schema."""
    import pyarrow as pa

    return pa.table(
        {
            c: [
                _json_value(row[i], float) for row in rows
            ]
            for i, c in enumerate(cols)
        }
        if cols
        else {}
    )


def _render_parquet(cols, rows, types, elapsed) -> bytes:
    import io

    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(_arrow_table(cols, rows, types), buf)
    return buf.getvalue()


def _render_arrow_stream(cols, rows, types, elapsed) -> bytes:
    import io

    import pyarrow as pa

    table = _arrow_table(cols, rows, types)
    buf = io.BytesIO()
    with pa.ipc.new_stream(buf, table.schema) as writer:
        writer.write_table(table)
    return buf.getvalue()


def _render_arrow_file(cols, rows, types, elapsed) -> bytes:
    import io

    import pyarrow as pa

    table = _arrow_table(cols, rows, types)
    buf = io.BytesIO()
    with pa.ipc.new_file(buf, table.schema) as writer:
        writer.write_table(table)
    return buf.getvalue()


# ---------------------------------------------------------------------------
# RowBinary — CH's compact scripting format (curl | parse): values in
# native LE binary, strings/arrays length-prefixed with LEB128
# varints. WithNames adds a varint column count + name list;
# WithNamesAndTypes adds the CH type names too. Encoders key off the
# ANNOUNCED type string, so what the header declares is exactly what
# the bytes contain.
# ---------------------------------------------------------------------------

_EPOCH_DATE = date(1970, 1, 1)
_EPOCH_DT = datetime(1970, 1, 1)


def _leb128(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _leb128_str(s: str) -> bytes:
    b = s.encode("utf-8")
    return _leb128(len(b)) + b


def _split_type_args(s: str) -> list[str]:
    parts, cur, depth = [], [], 0
    for c in s:
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        if c == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(c)
    if cur:
        parts.append("".join(cur).strip())
    return parts


def _rb_string(v: Any) -> bytes:
    if isinstance(v, bytes):
        return _leb128(len(v)) + v
    s = v if isinstance(v, str) else str(v)
    b = s.encode("utf-8")
    return _leb128(len(b)) + b


def _rb_dt64(v: Any, precision: int) -> bytes:
    d = v - _EPOCH_DT
    micros = (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    ticks = micros * (10 ** precision) // 1_000_000
    return struct.pack("<q", ticks)


def _parse_enum_values(spec: str) -> dict[str, int]:
    """``'a' = 1, 'b' = 2`` → {'a': 1, 'b': 2}."""
    out: dict[str, int] = {}
    for part in _split_type_args(spec):
        m = re.match(r"\s*'((?:[^']|'')*)'\s*=\s*(-?\d+)\s*$", part)
        if m:
            out[m.group(1).replace("''", "'")] = int(m.group(2))
    return out


def rowbinary_encoder(ch_type: str):
    """value → RowBinary bytes for one CH-spelled result type."""
    t = ch_type.strip()
    if t.startswith("Nullable("):
        inner = rowbinary_encoder(t[9:-1])
        return lambda v: b"\x01" if v is None else b"\x00" + inner(v)
    if t in ("Int8",):
        return lambda v: struct.pack("<b", int(v))
    if t in ("UInt8",):
        return lambda v: struct.pack("<B", int(v))
    if t == "Bool":
        return lambda v: b"\x01" if v else b"\x00"
    if t == "Int16":
        return lambda v: struct.pack("<h", int(v))
    if t == "UInt16":
        return lambda v: struct.pack("<H", int(v))
    if t == "Int32":
        return lambda v: struct.pack("<i", int(v))
    if t == "UInt32":
        return lambda v: struct.pack("<I", int(v))
    if t == "Int64":
        return lambda v: struct.pack("<q", int(v))
    if t == "UInt64":
        return lambda v: struct.pack("<Q", int(v))
    if t == "Float32":
        return lambda v: struct.pack("<f", float(v))
    if t == "Float64":
        return lambda v: struct.pack("<d", float(v))
    if t == "Date":
        return lambda v: struct.pack(
            "<H", (v - _EPOCH_DATE).days & 0xFFFF
        )
    if t == "Date32":
        return lambda v: struct.pack("<i", (v - _EPOCH_DATE).days)
    if t == "DateTime":
        return lambda v: struct.pack(
            "<I", int((v - _EPOCH_DT).total_seconds()) & 0xFFFFFFFF
        )
    m = re.match(r"DateTime64\((\d+)", t)
    if m:
        p = int(m.group(1))
        return lambda v: _rb_dt64(v, p)
    m = re.match(r"Decimal\((\d+),\s*(\d+)\)$", t)
    if m:
        prec, scale = int(m.group(1)), int(m.group(2))
        width = 4 if prec <= 9 else 8 if prec <= 18 else \
            16 if prec <= 38 else 32
        mul = 10 ** scale

        def enc_dec(v, width=width, mul=mul):
            iv = int(Decimal(v) * mul)
            return iv.to_bytes(width, "little", signed=True)

        return enc_dec
    if t.startswith("Array("):
        inner = rowbinary_encoder(t[6:-1])
        return lambda v: _leb128(len(v)) + b"".join(inner(x) for x in v)
    if t.startswith("Map("):
        k_t, v_t = _split_type_args(t[4:-1])
        ek, ev = rowbinary_encoder(k_t), rowbinary_encoder(v_t)
        return lambda v: _leb128(len(v)) + b"".join(
            ek(k) + ev(val) for k, val in v.items()
        )
    if t.startswith("Tuple("):
        # Fields are "name Type" pairs (our ch_type_name emits names);
        # a bare-type field has no leading identifier token.
        def _field_type(f: str) -> str:
            head, _, rest = f.partition(" ")
            if rest and re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", head):
                return rest
            return f

        encs = [
            rowbinary_encoder(_field_type(f))
            for f in _split_type_args(t[6:-1])
        ]
        return lambda v: b"".join(e(x) for e, x in zip(encs, v))
    m = re.match(r"Enum(8|16)\((.*)\)$", t, re.DOTALL)
    if m:
        # CH wires enums as their numeric ids, not strings.
        fmt = "<b" if m.group(1) == "8" else "<h"
        name_to_id = _parse_enum_values(m.group(2))

        def enc_enum(v, fmt=fmt, name_to_id=name_to_id):
            iv = v if isinstance(v, int) else name_to_id[str(v)]
            return struct.pack(fmt, iv)

        return enc_enum
    # String / FixedString / UUID / IPv4-as-text / everything else:
    # length-prefixed UTF-8 of the value's text form.
    return _rb_string


def _render_rowbinary(names: bool, types_row: bool):
    def render(cols, rows, types, elapsed) -> bytes:
        tl = types or ["String"] * len(cols)
        encs = [rowbinary_encoder(t) for t in tl]
        out = bytearray()
        if names:
            out += _leb128(len(cols))
            for c in cols:
                out += _leb128_str(c)
        if types_row:
            for t in tl:
                out += _leb128_str(t)
        for row in rows:
            for enc, v in zip(encs, row):
                out += enc(v)
        return bytes(out)

    return render


def _read_leb128(buf: bytes, pos: int) -> tuple[int, int]:
    shift = n = 0
    while True:
        b = buf[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, pos
        shift += 7


def rowbinary_decoder(ch_type: str):
    """RowBinary bytes → value for one CH-spelled type (the INSERT
    payload direction; inverse of ``rowbinary_encoder``)."""
    t = ch_type.strip()
    if t.startswith("Nullable("):
        inner = rowbinary_decoder(t[9:-1])

        def dec_null(buf: bytes, pos: int):
            flag = buf[pos]
            pos += 1
            if flag:
                return None, pos
            return inner(buf, pos)

        return dec_null
    simple = {
        "Int8": ("<b", 1), "UInt8": ("<B", 1), "Int16": ("<h", 2),
        "UInt16": ("<H", 2), "Int32": ("<i", 4), "UInt32": ("<I", 4),
        "Int64": ("<q", 8), "UInt64": ("<Q", 8),
        "Float32": ("<f", 4), "Float64": ("<d", 8),
    }
    if t in simple:
        fmt, width = simple[t]
        return lambda buf, pos: (
            struct.unpack(fmt, buf[pos:pos + width])[0], pos + width
        )
    if t == "Bool":
        return lambda buf, pos: (bool(buf[pos]), pos + 1)
    if t == "Date":
        return lambda buf, pos: (
            _EPOCH_DATE
            + timedelta(days=struct.unpack("<H", buf[pos:pos + 2])[0]),
            pos + 2,
        )
    if t == "Date32":
        return lambda buf, pos: (
            _EPOCH_DATE
            + timedelta(days=struct.unpack("<i", buf[pos:pos + 4])[0]),
            pos + 4,
        )
    if t == "DateTime":
        return lambda buf, pos: (
            _EPOCH_DT
            + timedelta(seconds=struct.unpack("<I", buf[pos:pos + 4])[0]),
            pos + 4,
        )
    m = re.match(r"DateTime64\((\d+)", t)
    if m:
        p = int(m.group(1))

        def dec_dt64(buf: bytes, pos: int, p=p):
            ticks = struct.unpack("<q", buf[pos:pos + 8])[0]
            micros = ticks * 1_000_000 // (10 ** p)
            return _EPOCH_DT + timedelta(microseconds=micros), pos + 8

        return dec_dt64
    m = re.match(r"Decimal\((\d+),\s*(\d+)\)$", t)
    if m:
        prec, scale = int(m.group(1)), int(m.group(2))
        width = 4 if prec <= 9 else 8 if prec <= 18 else \
            16 if prec <= 38 else 32

        def dec_dec(buf: bytes, pos: int, width=width, scale=scale):
            iv = int.from_bytes(
                buf[pos:pos + width], "little", signed=True
            )
            return Decimal(iv) / (10 ** scale), pos + width

        return dec_dec
    if t.startswith("Array("):
        inner = rowbinary_decoder(t[6:-1])

        def dec_arr(buf: bytes, pos: int):
            n, pos = _read_leb128(buf, pos)
            out = []
            for _ in range(n):
                v, pos = inner(buf, pos)
                out.append(v)
            return out, pos

        return dec_arr
    if t.startswith("Map("):
        k_t, v_t = _split_type_args(t[4:-1])
        dk, dv = rowbinary_decoder(k_t), rowbinary_decoder(v_t)

        def dec_map(buf: bytes, pos: int):
            n, pos = _read_leb128(buf, pos)
            out = {}
            for _ in range(n):
                k, pos = dk(buf, pos)
                v, pos = dv(buf, pos)
                out[k] = v
            return out, pos

        return dec_map
    if t.startswith("Tuple("):
        def _field_type(f: str) -> str:
            head, _, rest = f.partition(" ")
            if rest and re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", head):
                return rest
            return f

        decs = [
            rowbinary_decoder(_field_type(f))
            for f in _split_type_args(t[6:-1])
        ]

        def dec_tuple(buf: bytes, pos: int):
            out = []
            for d in decs:
                v, pos = d(buf, pos)
                out.append(v)
            return tuple(out), pos

        return dec_tuple
    m = re.match(r"FixedString\((\d+)\)$", t)
    if m:
        width = int(m.group(1))
        return lambda buf, pos: (
            buf[pos:pos + width].rstrip(b"\x00").decode("utf-8", "replace"),
            pos + width,
        )
    if t.startswith("LowCardinality("):
        # RowBinary serializes LowCardinality as its plain inner type.
        return rowbinary_decoder(t[15:-1])
    m = re.match(r"Enum(8|16)\((.*)\)$", t, re.DOTALL)
    if m:
        width = 1 if m.group(1) == "8" else 2
        fmt = "<b" if width == 1 else "<h"
        id_to_name = {
            v: k for k, v in _parse_enum_values(m.group(2)).items()
        }

        def dec_enum(buf: bytes, pos: int):
            iv = struct.unpack(fmt, buf[pos:pos + width])[0]
            return id_to_name.get(iv, iv), pos + width

        return dec_enum
    # CH wide integers: fixed-width little-endian two's complement.
    if t in ("Int128", "Int256", "UInt128", "UInt256"):
        width = 16 if "128" in t else 32
        signed = t.startswith("Int")
        return lambda buf, pos: (
            int.from_bytes(buf[pos:pos + width], "little", signed=signed),
            pos + width,
        )
    m = re.match(r"Decimal256\((\d+)\)$", t)
    if m:
        scale = int(m.group(1))
        return lambda buf, pos: (
            Decimal(int.from_bytes(buf[pos:pos + 32], "little",
                                   signed=True)) / (10 ** scale),
            pos + 32,
        )
    # Zoned DateTime spellings carry the same UInt32 epoch seconds.
    if re.match(r"DateTime\(", t):
        return rowbinary_decoder("DateTime")
    if t in ("String", "UUID", "IPv4", "IPv6", "JSON") or "(" not in t:
        # String & parameterless spellings: length-prefixed UTF-8.

        def dec_str(buf: bytes, pos: int):
            ln, pos = _read_leb128(buf, pos)
            if pos + ln > len(buf):
                raise ValueError(
                    f"RowBinary string length {ln} overruns the "
                    "payload (type/width mismatch?)"
                )
            return buf[pos:pos + ln].decode("utf-8", "replace"), pos + ln

        return dec_str
    raise ValueError(
        f"RowBinary decode: unsupported type {ch_type!r}; supported: "
        "ints/floats/Bool/String/FixedString/Date*/DateTime*/Decimal/"
        "Enum/LowCardinality/Nullable/Array/Map/Tuple"
    )


def parse_rowbinary(
    data: bytes, types: list[str]
) -> list[list]:
    """Decode a RowBinary payload (no header) against the target
    types; a truncated or misaligned payload fails loudly with the
    row/column position instead of inserting shifted values."""
    decs = [rowbinary_decoder(t) for t in types]
    rows: list[list] = []
    pos = 0
    while pos < len(data):
        row = []
        for ci, dec in enumerate(decs):
            try:
                v, pos = dec(data, pos)
            except (struct.error, IndexError, ValueError) as e:
                raise ValueError(
                    f"RowBinary payload truncated/misaligned at byte "
                    f"{pos} (row {len(rows)}, column {ci} "
                    f"{types[ci]!r}): {e}"
                ) from e
            if pos > len(data):
                raise ValueError(
                    f"RowBinary payload truncated at row {len(rows)}, "
                    f"column {ci} {types[ci]!r} (value overruns the "
                    "payload — type/width mismatch?)"
                )
            row.append(v)
        rows.append(row)
    return rows


def read_rowbinary_names(
    data: bytes, pos: int = 0
) -> tuple[list[str], int]:
    """Read the leb128 column-count + name list header shared by the
    RowBinaryWithNames* variants."""
    ncols, pos = _read_leb128(data, pos)
    names: list[str] = []
    for _ in range(ncols):
        ln, pos = _read_leb128(data, pos)
        if pos + ln > len(data):
            raise ValueError("RowBinary header overruns the payload")
        names.append(data[pos:pos + ln].decode("utf-8"))
        pos += ln
    return names, pos


def parse_rowbinary_with_names_and_types(
    data: bytes,
) -> tuple[list[str], list[str], list[list]]:
    """Decode a RowBinaryWithNamesAndTypes payload: leb128 column
    count, names, CH type names, then rows per the declared types."""
    names, pos = read_rowbinary_names(data)
    types: list[str] = []
    for _ in range(len(names)):
        ln, pos = _read_leb128(data, pos)
        if pos + ln > len(data):
            raise ValueError("RowBinary header overruns the payload")
        types.append(data[pos:pos + ln].decode("utf-8"))
        pos += ln
    return names, types, parse_rowbinary(data[pos:], types)


# ---------------------------------------------------------------------------
# Native — ClickHouse's columnar block format (what clickhouse-connect
# and clickhouse-driver request over HTTP). One block per render:
# [ncols uvarint][nrows uvarint] then per column: name (leb128 str),
# type (leb128 str), values column-contiguous in the same LE binary
# encodings as RowBinary. Nullable columns write the null-mask bytes
# (1 per row) first, then every value slot (defaults for NULL).
# Array columns write cumulative UInt64 offsets then the flattened
# inner data. An empty result is a header-only block (ncols, 0,
# names+types, no data) — CH sends the same so clients learn the
# schema.
# ---------------------------------------------------------------------------

_NATIVE_DEFAULTS = {
    "Int8": 0, "Int16": 0, "Int32": 0, "Int64": 0,
    "UInt8": 0, "UInt16": 0, "UInt32": 0, "UInt64": 0,
    "Float32": 0.0, "Float64": 0.0, "Bool": False, "String": "",
    "Date": _EPOCH_DATE, "Date32": _EPOCH_DATE, "DateTime": _EPOCH_DT,
}


def _native_default(t: str):
    if t.startswith("DateTime64"):
        return _EPOCH_DT
    if t.startswith("Decimal"):
        return Decimal(0)
    if t.startswith("Array"):
        return []
    return _NATIVE_DEFAULTS.get(t, "")


def _native_field_type(f: str) -> str:
    head, _, rest = f.partition(" ")
    if rest and re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", head):
        return rest
    return f


def _native_column(values: list, t: str) -> bytes:
    """One column's Native data block (no name/type header).
    Composite layouts are COLUMNAR, matching CH's Native format:
    Nullable = mask bytes then values, Array/Map = cumulative UInt64
    offsets then flattened element columns, Tuple = per-element
    columns."""
    t = t.strip()
    out = bytearray()
    if t.startswith("Nullable("):
        inner = t[9:-1]
        out += bytes(1 if v is None else 0 for v in values)
        dflt = _native_default(inner)
        out += _native_column(
            [dflt if v is None else v for v in values], inner
        )
        return bytes(out)
    if t.startswith("Array("):
        inner = t[6:-1]
        flat: list = []
        total = 0
        for v in values:
            total += len(v)
            out += struct.pack("<Q", total)
            flat.extend(v)
        out += _native_column(flat, inner)
        return bytes(out)
    if t.startswith("Map("):
        k_t, v_t = _split_type_args(t[4:-1])
        keys: list = []
        vals: list = []
        total = 0
        for m_ in values:
            total += len(m_)
            out += struct.pack("<Q", total)
            keys.extend(m_.keys())
            vals.extend(m_.values())
        out += _native_column(keys, k_t)
        out += _native_column(vals, v_t)
        return bytes(out)
    if t.startswith("Tuple("):
        fts = [
            _native_field_type(f) for f in _split_type_args(t[6:-1])
        ]
        for i, ft in enumerate(fts):
            out += _native_column([v[i] for v in values], ft)
        return bytes(out)
    enc = rowbinary_encoder(t)
    for v in values:
        out += enc(v)
    return bytes(out)


def _native_read_column(
    data: bytes, pos: int, t: str, nrows: int
) -> tuple[list, int]:
    t = t.strip()
    if t.startswith("Nullable("):
        mask = list(data[pos:pos + nrows])
        if len(mask) < nrows:
            raise ValueError(
                "Native payload truncated inside a Nullable mask"
            )
        pos += nrows
        vals, pos = _native_read_column(data, pos, t[9:-1], nrows)
        return [None if m else v for m, v in zip(mask, vals)], pos
    if t.startswith("Array(") or t.startswith("Map("):
        offsets = []
        for _ in range(nrows):
            if pos + 8 > len(data):
                raise ValueError(
                    "Native payload truncated inside an offsets column"
                )
            offsets.append(struct.unpack("<Q", data[pos:pos + 8])[0])
            pos += 8
        total = offsets[-1] if offsets else 0
        if t.startswith("Array("):
            flat, pos = _native_read_column(data, pos, t[6:-1], total)
            out: list = []
            start = 0
            for off in offsets:
                out.append(flat[start:off])
                start = off
            return out, pos
        k_t, v_t = _split_type_args(t[4:-1])
        keys, pos = _native_read_column(data, pos, k_t, total)
        vals, pos = _native_read_column(data, pos, v_t, total)
        out = []
        start = 0
        for off in offsets:
            out.append(dict(zip(keys[start:off], vals[start:off])))
            start = off
        return out, pos
    if t.startswith("Tuple("):
        fts = [
            _native_field_type(f) for f in _split_type_args(t[6:-1])
        ]
        cols = []
        for ft in fts:
            vals, pos = _native_read_column(data, pos, ft, nrows)
            cols.append(vals)
        return [tuple(r) for r in zip(*cols)] if nrows else [], pos
    if t.startswith("LowCardinality("):
        raise ValueError(
            "Native LowCardinality columns use dictionary encoding "
            "this parser does not implement; declare the plain inner "
            "type or send RowBinary"
        )
    dec = rowbinary_decoder(t)
    out = []
    for _ in range(nrows):
        v, pos = dec(data, pos)
        out.append(v)
    if pos > len(data):
        raise ValueError(
            f"Native payload truncated inside a {t} column "
            "(value overruns the payload)"
        )
    return out, pos


def parse_native(
    data: bytes,
) -> tuple[list[str], list[str], list[list]]:
    """Decode a Native payload (one or more columnar blocks — CH
    clients send INSERT data in several) into (cols, types, rows).
    Later blocks must repeat the first block's column set."""
    cols: list[str] = []
    types: list[str] = []
    all_rows: list[list] = []
    first = True
    pos = 0
    while pos < len(data):
        try:
            ncols, pos = _read_leb128(data, pos)
            nrows, pos = _read_leb128(data, pos)
            if ncols == 0:
                # Zero-column terminal block: some clients append an
                # end-of-stream marker. Skip it.
                continue
            block_cols: list[str] = []
            columns: list[list] = []
            for _ in range(ncols):
                ln, pos = _read_leb128(data, pos)
                name = data[pos:pos + ln].decode("utf-8")
                pos += ln
                ln, pos = _read_leb128(data, pos)
                t = data[pos:pos + ln].decode("utf-8")
                pos += ln
                block_cols.append(name)
                if first:
                    types.append(t)
                vals, pos = _native_read_column(data, pos, t, nrows)
                columns.append(vals)
        except (struct.error, IndexError) as e:
            raise ValueError(
                f"Native payload truncated/misaligned at byte {pos}: "
                f"{e}"
            ) from e
        if first:
            cols = block_cols
            first = False
        elif block_cols != cols:
            raise ValueError(
                "Native payload blocks disagree on columns: "
                f"{block_cols} vs {cols}"
            )
        if nrows:
            all_rows.extend(list(r) for r in zip(*columns))
    return cols, types, all_rows


def _render_native(cols, rows, types, elapsed) -> bytes:
    tl = types or ["String"] * len(cols)
    out = bytearray()
    out += _leb128(len(cols))
    out += _leb128(len(rows))
    for i, (name, t) in enumerate(zip(cols, tl)):
        out += _leb128_str(name)
        out += _leb128_str(t)
        if rows:
            out += _native_column([r[i] for r in rows], t)
    return bytes(out)


# Line-based formats render per-row with bytes IDENTICAL to the
# collected renderers above (each emits line + "\n"; the collected
# path joins lines with "\n" and appends a trailing "\n" when any
# line exists — same concatenation). Used by the HTTP server's
# chunked streaming path (toLocalIterator, no driver materialization).
STREAMABLE_FORMATS = {
    "JSONEachRow", "JSONCompactEachRow",
    "CSV", "CSVWithNames", "CSVWithNamesAndTypes",
    "TabSeparated", "TabSeparatedWithNames",
    "TabSeparatedWithNamesAndTypes",
    "RowBinary", "RowBinaryWithNames", "RowBinaryWithNamesAndTypes",
    "TabSeparatedRaw", "Null",
}


class StreamRenderer:
    """Per-row renderer for one of ``STREAMABLE_FORMATS``."""

    def __init__(self, fmt: str) -> None:
        if fmt not in STREAMABLE_FORMATS:
            raise ValueError(f"format {fmt!r} is not streamable")
        self.fmt = fmt
        self.content_type = _RENDERERS[fmt][1]
        self._cols: list[str] = []
        self._encs = None  # RowBinary column encoders

    def header_bytes(self, cols: list[str], types: list[str] | None) -> bytes:
        self._cols = list(cols)
        if self.fmt.startswith("RowBinary"):
            tl = types or ["String"] * len(cols)
            self._encs = [rowbinary_encoder(t) for t in tl]
            out = bytearray()
            if self.fmt != "RowBinary":
                out += _leb128(len(cols))
                for c in cols:
                    out += _leb128_str(c)
            if self.fmt == "RowBinaryWithNamesAndTypes":
                for t in tl:
                    out += _leb128_str(t)
            return bytes(out)
        lines = []
        if self.fmt in ("CSVWithNames", "CSVWithNamesAndTypes"):
            lines.append(",".join(_csv_cell(c) for c in cols))
        if self.fmt == "CSVWithNamesAndTypes":
            lines.append(
                ",".join(_csv_cell(t) for t in (types or ["String"] * len(cols)))
            )
        if self.fmt in (
            "TabSeparatedWithNames", "TabSeparatedWithNamesAndTypes"
        ):
            lines.append("\t".join(_tsv_cell(c) for c in cols))
        if self.fmt == "TabSeparatedWithNamesAndTypes":
            lines.append(
                "\t".join(_tsv_cell(t) for t in (types or ["String"] * len(cols)))
            )
        return ("".join(line + "\n" for line in lines)).encode()

    def row_bytes(self, row: list) -> bytes:
        f = self.fmt
        if f == "Null":
            return b""
        if f == "TabSeparatedRaw":
            return (
                "\t".join(_tsv_raw_cell(v) for v in row) + "\n"
            ).encode()
        if self._encs is not None:
            return b"".join(e(v) for e, v in zip(self._encs, row))
        if f == "JSONEachRow":
            line = _json_dumps(
                {c: _json_value(v) for c, v in zip(self._cols, row)}
            )
        elif f == "JSONCompactEachRow":
            line = _json_dumps([_json_value(v) for v in row])
        elif f.startswith("CSV"):
            line = ",".join(_csv_cell(v) for v in row)
        else:  # TabSeparated family
            line = "\t".join(_tsv_cell(v) for v in row)
        return (line + "\n").encode()


_RENDERERS = {
    "JSON": (_render_json, "application/json; charset=UTF-8"),
    "JSONCompact": (_render_json_compact, "application/json; charset=UTF-8"),
    "JSONEachRow": (
        _render_json_each_row, "application/x-ndjson; charset=UTF-8"
    ),
    "JSONCompactEachRow": (
        _render_json_compact_each_row,
        "application/x-ndjson; charset=UTF-8",
    ),
    "CSV": (_render_csv(False), "text/csv; charset=UTF-8"),
    "CSVWithNames": (_render_csv(True), "text/csv; charset=UTF-8"),
    "CSVWithNamesAndTypes": (
        _render_csv(True, True), "text/csv; charset=UTF-8"
    ),
    "TabSeparated": (
        _render_tsv(False), "text/tab-separated-values; charset=UTF-8"
    ),
    "TabSeparatedWithNames": (
        _render_tsv(True), "text/tab-separated-values; charset=UTF-8"
    ),
    "TabSeparatedWithNamesAndTypes": (
        _render_tsv(True, True),
        "text/tab-separated-values; charset=UTF-8",
    ),
    "Values": (_render_values, "text/plain; charset=UTF-8"),
    "Pretty": (_render_pretty, "text/plain; charset=UTF-8"),
    # Binary interchange formats (CH serves these too): self-described
    # schema, zero text parsing on the consumer side.
    "Parquet": (_render_parquet, "application/octet-stream"),
    "Arrow": (_render_arrow_file, "application/octet-stream"),
    "ArrowStream": (_render_arrow_stream, "application/octet-stream"),
    "TabSeparatedRaw": (
        _render_tsv_raw, "text/tab-separated-values; charset=UTF-8"
    ),
    "Native": (_render_native, "application/octet-stream"),
    "Null": (_render_null, "text/plain; charset=UTF-8"),
    "RowBinary": (
        _render_rowbinary(False, False), "application/octet-stream"
    ),
    "RowBinaryWithNames": (
        _render_rowbinary(True, False), "application/octet-stream"
    ),
    "RowBinaryWithNamesAndTypes": (
        _render_rowbinary(True, True), "application/octet-stream"
    ),
    "Vertical": (_render_vertical, "text/plain; charset=UTF-8"),
    "Markdown": (_render_markdown, "text/markdown; charset=UTF-8"),
    "TSKV": (_render_tskv, "text/plain; charset=UTF-8"),
    "JSONStrings": (
        _render_json_strings, "application/json; charset=UTF-8"
    ),
    "JSONStringsEachRow": (
        _render_json_strings_each_row,
        "application/x-ndjson; charset=UTF-8",
    ),
    "JSONColumns": (
        _render_json_columns, "application/json; charset=UTF-8"
    ),
    "JSONCompactColumns": (
        _render_json_compact_columns,
        "application/json; charset=UTF-8",
    ),
    "JSONObjectEachRow": (
        _render_json_object_each_row,
        "application/json; charset=UTF-8",
    ),
    "XML": (_render_xml, "application/xml; charset=UTF-8"),
    "LineAsString": (
        _render_line_as_string, "text/plain; charset=UTF-8"
    ),
    "RawBLOB": (_render_raw_blob, "application/octet-stream"),
    "PrettySpace": (_render_pretty_space, "text/plain; charset=UTF-8"),
}

# Accepted spellings (lowercased) → canonical renderer name. TSV* are
# CH's documented aliases for TabSeparated*.
_CANONICAL = {
    "json": "JSON",
    "jsoncompact": "JSONCompact",
    "jsoneachrow": "JSONEachRow",
    "jsoncompacteachrow": "JSONCompactEachRow",
    "ndjson": "JSONEachRow",
    "jsonlines": "JSONEachRow",
    "csv": "CSV",
    "csvwithnames": "CSVWithNames",
    "csvwithnamesandtypes": "CSVWithNamesAndTypes",
    "tsv": "TabSeparated",
    "tabseparated": "TabSeparated",
    "tsvwithnames": "TabSeparatedWithNames",
    "tabseparatedwithnames": "TabSeparatedWithNames",
    "tsvwithnamesandtypes": "TabSeparatedWithNamesAndTypes",
    "tabseparatedwithnamesandtypes": "TabSeparatedWithNamesAndTypes",
    "values": "Values",
    "pretty": "Pretty",
    "prettycompact": "Pretty",
    "parquet": "Parquet",
    "arrow": "Arrow",
    "arrowstream": "ArrowStream",
    "tabseparatedraw": "TabSeparatedRaw",
    "native": "Native",
    "tsvraw": "TabSeparatedRaw",
    "raw": "TabSeparatedRaw",
    "null": "Null",
    "rowbinary": "RowBinary",
    "rowbinarywithnames": "RowBinaryWithNames",
    "rowbinarywithnamesandtypes": "RowBinaryWithNamesAndTypes",
    "vertical": "Vertical",
    "markdown": "Markdown",
    "tskv": "TSKV",
    "jsonstrings": "JSONStrings",
    "jsonstringseachrow": "JSONStringsEachRow",
    "jsoncolumns": "JSONColumns",
    "jsoncompactcolumns": "JSONCompactColumns",
    "jsonobjecteachrow": "JSONObjectEachRow",
    "xml": "XML",
    "lineasstring": "LineAsString",
    "rawblob": "RawBLOB",
    "prettyspace": "PrettySpace",
    "prettyspacenoescapes": "PrettySpace",
    # Pretty variants: one box renderer covers the family (the
    # variants tweak ANSI escapes / block batching, not content)
    "prettynoescapes": "Pretty",
    "prettycompactnoescapes": "Pretty",
    "prettycompactmonoblock": "Pretty",
    "prettymonoblock": "Pretty",
    # CustomSeparated's DEFAULT separators (escape rule Escaped,
    # field \t, row \n) are exactly TabSeparated; custom separator
    # SETTINGS are not honored (guided: use TSV/CSV variants)
    "customseparated": "TabSeparated",
    "customseparatedwithnames": "TabSeparatedWithNames",
}

DEFAULT_FORMAT = "TabSeparated"  # CH's HTTP default


def normalize_format(name: str | None) -> str | None:
    if name is None:
        return None
    return _CANONICAL.get(name.strip().lower())


def render_result(
    cols: Sequence[str],
    rows: Sequence[Sequence[Any]],
    fmt: str,
    types: Sequence[str] | None = None,
    elapsed: float = 0.0,
) -> tuple[bytes, str]:
    """Render to ``(body, content_type)``; ``fmt`` must be canonical
    (use ``normalize_format`` first)."""
    renderer, content_type = _RENDERERS[fmt]
    return renderer(list(cols), rows, types, elapsed), content_type
