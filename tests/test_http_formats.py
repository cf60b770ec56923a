"""ClickHouse-compatible HTTP interface tests — ``GET/POST /?query=``
with result-side FORMAT renderers, the surface a curl user expects
from a CH endpoint (the reference's nodes serve CH HTTP on 8123,
``ch/config.xml:133``)."""

from __future__ import annotations

import json
import urllib.error
import urllib.parse
import urllib.request
from decimal import Decimal

import pytest

from bighouse_spark.engine import BigHouseEngine
from bighouse_spark.formats import (
    ch_type_name,
    normalize_format,
    split_result_format,
)
from bighouse_spark.server import start_in_background
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def server_url(spark):
    server, _ = start_in_background(BigHouseEngine(spark))
    yield f"http://127.0.0.1:{server.server_port}"
    server.shutdown()


def _get_raw(url: str):
    with urllib.request.urlopen(url) as resp:
        return resp.status, resp.read(), dict(resp.headers)


def _post_raw(url: str, body: bytes):
    req = urllib.request.Request(url, data=body, method="POST")
    with urllib.request.urlopen(req) as resp:
        return resp.status, resp.read(), dict(resp.headers)


def _q(server_url: str, sql: str, **params: str) -> str:
    qs = urllib.parse.urlencode({"query": sql, **params})
    return f"{server_url}/?{qs}"


def test_bare_get_is_ok_ping(server_url):
    status, body, _ = _get_raw(f"{server_url}/")
    assert status == 200 and body == b"Ok.\n"


def test_default_format_is_tabseparated(server_url):
    status, body, headers = _get_raw(
        _q(server_url, "SELECT 1 AS a, 'x' AS b")
    )
    assert status == 200
    assert body == b"1\tx\n"
    assert headers["X-ClickHouse-Format"] == "TabSeparated"


def test_format_clause_json(server_url):
    status, body, _ = _get_raw(
        _q(server_url, "SELECT 42 AS answer, 'hi' AS s FORMAT JSON")
    )
    doc = json.loads(body)
    assert doc["meta"] == [
        {"name": "answer", "type": "Int32"},
        {"name": "s", "type": "String"},
    ]
    assert doc["data"] == [{"answer": 42, "s": "hi"}]
    assert doc["rows"] == 1
    assert "elapsed" in doc["statistics"]


def test_format_jsoneachrow(server_url):
    sql = (
        f"SELECT r_regionkey, r_name FROM "
        f"file('file://{SF_SMOKE}/region.parquet', 'Parquet') "
        f"ORDER BY r_regionkey FORMAT JSONEachRow"
    )
    status, body, headers = _get_raw(_q(server_url, sql))
    lines = [json.loads(ln) for ln in body.decode().splitlines()]
    assert len(lines) == 5
    assert lines[0]["r_regionkey"] == 0
    assert headers["X-ClickHouse-Format"] == "JSONEachRow"


def test_format_csv_with_names_and_quoting(server_url):
    status, body, _ = _get_raw(
        _q(
            server_url,
            "SELECT 1 AS n, 'a\"b' AS s, NULL AS missing "
            "FORMAT CSVWithNames",
        )
    )
    lines = body.decode().splitlines()
    assert lines[0] == '"n","s","missing"'
    assert lines[1] == '1,"a""b",\\N'


def test_format_tsv_escaping(server_url):
    status, body, _ = _get_raw(
        _q(server_url, "SELECT 'a\\tb' AS s, NULL AS m FORMAT TSV")
    )
    assert body.decode() == "a\\tb\t\\N\n"


def test_default_format_param(server_url):
    status, body, headers = _get_raw(
        _q(server_url, "SELECT 7 AS x", default_format="CSV")
    )
    assert body == b"7\n"
    assert headers["X-ClickHouse-Format"] == "CSV"


def test_format_header(server_url):
    req = urllib.request.Request(
        _q(server_url, "SELECT 7 AS x"),
        headers={"X-ClickHouse-Format": "JSONEachRow"},
    )
    with urllib.request.urlopen(req) as resp:
        assert json.loads(resp.read()) == {"x": 7}


def test_post_body_query(server_url):
    status, body, _ = _post_raw(
        f"{server_url}/", b"SELECT 1 + 1 AS two FORMAT JSONEachRow"
    )
    assert json.loads(body) == {"two": 2}


def test_post_param_plus_body_concatenation(server_url):
    # CH concatenates the query param and the body.
    status, body, _ = _post_raw(
        _q(server_url, "SELECT 40"), b"+ 2 AS answer FORMAT CSV"
    )
    assert body == b"42\n"


def test_insert_payload_via_body(server_url):
    # The canonical CH HTTP INSERT shape: statement in the query
    # param, data rows in the POST body.
    _get_raw(
        _q(
            server_url,
            "CREATE TABLE http_ins (id Int64, v String) "
            "ENGINE = MergeTree ORDER BY id",
        )
    )
    _post_raw(
        _q(server_url, "INSERT INTO http_ins FORMAT JSONEachRow"),
        b'{"id": 1, "v": "seed"}\n',
    )
    _post_raw(
        _q(server_url, "INSERT INTO http_ins FORMAT JSONEachRow"),
        b'{"id": 2, "v": "from_http"}\n{"id": 3, "v": "more"}\n',
    )
    status, body, _ = _get_raw(
        _q(
            server_url,
            "SELECT id, v FROM http_ins ORDER BY id FORMAT JSONEachRow",
        )
    )
    rows = [json.loads(ln) for ln in body.decode().splitlines()]
    assert rows == [
        {"id": 1, "v": "seed"},
        {"id": 2, "v": "from_http"},
        {"id": 3, "v": "more"},
    ]


def test_types_in_json_meta_cover_dates_and_decimals(server_url):
    status, body, _ = _get_raw(
        _q(
            server_url,
            "SELECT DATE '2024-01-02' AS d, "
            "CAST(1.5 AS DECIMAL(10,2)) AS m, "
            "TIMESTAMP '2024-01-02 03:04:05' AS t FORMAT JSON",
        )
    )
    doc = json.loads(body)
    types = {m["name"]: m["type"] for m in doc["meta"]}
    assert types["d"] == "Date"
    assert types["m"] == "Decimal(10, 2)"
    assert types["t"].startswith("DateTime64")
    assert doc["data"][0]["d"] == "2024-01-02"


@pytest.mark.parametrize("fmt", ["JSON", "JSONEachRow", "JSONCompact"])
def test_json_decimals_are_exact_number_tokens(server_url, fmt):
    # Above 2**53 a double drops the low digits; CH's default
    # (output_format_json_quote_decimals = 0) prints the exact number.
    big = 2**53 * 1000 + 7
    status, body, _ = _get_raw(
        _q(
            server_url,
            f"SELECT CAST('{big}' AS DECIMAL(38, 0)) AS h, "
            "CAST('-12345678901234567.125' AS DECIMAL(38, 3)) AS f "
            f"FORMAT {fmt}",
        )
    )
    assert status == 200
    text = body.decode()
    assert f"{big}" in text and "-12345678901234567.125" in text
    doc = json.loads(text, parse_float=Decimal)
    if fmt == "JSONEachRow":
        row = [doc["h"], doc["f"]]
    elif fmt == "JSON":
        row = [doc["data"][0]["h"], doc["data"][0]["f"]]
    else:
        row = doc["data"][0]
    assert row == [big, Decimal("-12345678901234567.125")]


def test_error_is_text_with_exception_code(server_url):
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(
            _q(server_url, "SELECT * FROM no_such_table_fmt")
        )
    assert ei.value.code == 400
    body = ei.value.read().decode()
    assert "DB::Exception" in body
    assert ei.value.headers["X-ClickHouse-Exception-Code"] == "62"


def test_unknown_format_is_rejected(server_url):
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(
            _q(server_url, "SELECT 1", default_format="NopeFormat")
        )
    assert ei.value.code == 400
    assert b"Unknown format" in ei.value.read()


def test_settings_url_params_apply(server_url):
    # CH accepts settings as URL params; ours map to init SET queries.
    status, body, _ = _get_raw(
        _q(
            server_url,
            "SELECT 5 AS v FORMAT CSV",
            **{"spark.sql.shuffle.partitions": "8"},
        )
    )
    assert body == b"5\n"


def test_values_and_pretty_formats(server_url):
    _, body, _ = _get_raw(
        _q(server_url, "SELECT 1 AS a, 'x' AS b FORMAT Values")
    )
    assert body == b"(1,'x')\n"
    _, body, _ = _get_raw(
        _q(server_url, "SELECT 1 AS a FORMAT Pretty")
    )
    text = body.decode()
    assert "| a " in text and "| 1 " in text


def test_array_rendering_tsv_and_json(server_url):
    _, body, _ = _get_raw(
        _q(server_url, "SELECT array(1, 2, 3) AS xs FORMAT TSV")
    )
    assert body == b"[1,2,3]\n"
    _, body, _ = _get_raw(
        _q(server_url, "SELECT array('a', 'b') AS xs FORMAT JSONEachRow")
    )
    assert json.loads(body) == {"xs": ["a", "b"]}


# -- unit coverage of the pure helpers --------------------------------


def test_split_result_format_units():
    assert split_result_format("SELECT 1 FORMAT JSON") == (
        "SELECT 1", "JSON"
    )
    assert split_result_format("SELECT 1 FORMAT tsv;") == (
        "SELECT 1", "TabSeparated"
    )
    # Unknown trailing word is not a format clause.
    assert split_result_format("SELECT fmt FROM t WHERE x = FORMAT") == (
        "SELECT fmt FROM t WHERE x = FORMAT", None,
    )
    # INSERT payloads keep their FORMAT clause (engine parses those).
    sql = "INSERT INTO t FORMAT JSONEachRow"
    assert split_result_format(sql) == (sql, None)


def test_normalize_format_aliases():
    assert normalize_format("tsv") == "TabSeparated"
    assert normalize_format("TabSeparatedWithNames") == (
        "TabSeparatedWithNames"
    )
    assert normalize_format("ndjson") == "JSONEachRow"
    assert normalize_format("bogus") is None


def test_ch_type_name_units():
    from pyspark.sql import types as T

    assert ch_type_name(T.LongType()) == "Int64"
    assert ch_type_name(T.LongType(), nullable=True) == "Nullable(Int64)"
    assert ch_type_name(T.ArrayType(T.StringType())) == "Array(String)"
    assert (
        ch_type_name(T.MapType(T.StringType(), T.IntegerType()))
        == "Map(String, Int32)"
    )
    assert ch_type_name(T.DecimalType(20, 0)) == "Decimal(20, 0)"


def test_with_names_and_types_formats(server_url):
    _, body, _ = _get_raw(
        _q(
            server_url,
            "SELECT 1 AS n, 'x' AS s FORMAT TabSeparatedWithNamesAndTypes",
        )
    )
    lines = body.decode().splitlines()
    assert lines[0] == "n\ts"
    assert lines[1] == "Int32\tString"
    assert lines[2] == "1\tx"
    _, body, _ = _get_raw(
        _q(server_url, "SELECT 1 AS n FORMAT CSVWithNamesAndTypes")
    )
    assert body.decode().splitlines()[:2] == ['"n"', '"Int32"']


def test_json_compact_each_row(server_url):
    _, body, _ = _get_raw(
        _q(
            server_url,
            "SELECT number AS n, number * 2 AS d FROM numbers(2) "
            "ORDER BY n FORMAT JSONCompactEachRow",
        )
    )
    lines = [json.loads(ln) for ln in body.decode().splitlines()]
    assert lines == [[0, 0], [1, 2]]


def test_gzip_response(server_url):
    import gzip

    req = urllib.request.Request(
        _q(server_url, "SELECT 42 AS v FORMAT JSONEachRow"),
        headers={"Accept-Encoding": "gzip"},
    )
    with urllib.request.urlopen(req) as resp:
        assert resp.headers["Content-Encoding"] == "gzip"
        assert json.loads(gzip.decompress(resp.read())) == {"v": 42}


def test_parquet_and_arrow_formats(server_url):
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    _, body, headers = _get_raw(
        _q(
            server_url,
            "SELECT number AS n, concat('v', number) AS v "
            "FROM numbers(3) ORDER BY n FORMAT Parquet",
        )
    )
    t = pq.read_table(io.BytesIO(body))
    assert t.column("n").to_pylist() == [0, 1, 2]
    assert t.column("v").to_pylist() == ["v0", "v1", "v2"]
    assert headers["Content-Type"] == "application/octet-stream"

    _, body, _ = _get_raw(
        _q(server_url, "SELECT 1 AS a FORMAT ArrowStream")
    )
    reader = pa.ipc.open_stream(io.BytesIO(body))
    assert reader.read_all().column("a").to_pylist() == [1]

    _, body, _ = _get_raw(_q(server_url, "SELECT 2 AS b FORMAT Arrow"))
    reader = pa.ipc.open_file(io.BytesIO(body))
    assert reader.read_all().column("b").to_pylist() == [2]


def test_gzip_request_body(server_url):
    import gzip

    _get_raw(
        _q(
            server_url,
            "CREATE TABLE IF NOT EXISTS gz_ins (id Int64, v String) "
            "ENGINE = MergeTree ORDER BY id",
        )
    )
    payload = gzip.compress(b'{"id": 1, "v": "zipped"}\n')
    req = urllib.request.Request(
        _q(server_url, "INSERT INTO gz_ins FORMAT JSONEachRow"),
        data=payload,
        headers={"Content-Encoding": "gzip"},
        method="POST",
    )
    urllib.request.urlopen(req).read()
    _, body, _ = _get_raw(
        _q(server_url, "SELECT v FROM gz_ins FORMAT JSONEachRow")
    )
    assert json.loads(body) == {"v": "zipped"}


def test_client_query_id_names_job_group_and_kill(server_url, spark):
    import threading
    import time

    from bighouse_spark.engine import BigHouseEngine  # noqa: F401

    # Client-supplied query_id echoes back and is KILL-able.
    status, body, headers = _get_raw(
        _q(server_url, "SELECT 1 AS a", query_id="my-query-7")
    )
    assert status == 200
    assert headers.get("X-ClickHouse-Query-Id") == "my-query-7"

    res = {}

    def victim():
        try:
            _get_raw(
                _q(
                    server_url,
                    "SELECT count() AS c FROM numbers(500000000) a, "
                    "numbers(10000) b",
                    query_id="kill-me-1",
                )
            )
            res["r"] = "finished"
        except urllib.error.HTTPError as e:
            res["r"] = e.read().decode()

    th = threading.Thread(target=victim)
    th.start()
    time.sleep(2)
    status, body, _ = _get_raw(
        _q(server_url, "KILL QUERY WHERE query_id = 'kill-me-1'")
    )
    assert status == 200
    th.join(60)
    assert "cancelled" in res.get("r", "")


def test_max_execution_time_over_http(server_url):
    with pytest.raises(urllib.error.HTTPError) as err:
        _get_raw(
            _q(
                server_url,
                "SELECT count() AS c FROM numbers(500000000) a, "
                "numbers(10000) b SETTINGS max_execution_time=2",
            )
        )
    assert "TIMEOUT_EXCEEDED" in err.value.read().decode()


def test_format_null_and_tsv_raw(server_url):
    # FORMAT Null: executes fully, returns no data (CH's benchmark
    # format) — streamed, so nothing materializes anywhere.
    status, body, headers = _get_raw(
        _q(server_url, "SELECT number FROM numbers(1000) FORMAT Null")
    )
    assert status == 200 and body == b""
    # TabSeparatedRaw: verbatim values, no escaping.
    status, body, _ = _get_raw(
        _q(server_url, "SELECT 'a\\tb' AS x FORMAT TabSeparatedRaw")
    )
    assert status == 200 and body == b"a\tb\n"


class TestRound8Formats:
    """Text formats that used to FALL BACK to TabSeparated silently:
    each now has a real renderer, and unknown names answer 400/73."""

    def _body(self, server_url, sql):
        status, body, _ = _get_raw(_q(server_url, sql))
        assert status == 200
        return body

    def test_vertical(self, server_url):
        b = self._body(server_url,
                       "SELECT 1 AS x, 'a' AS s FORMAT Vertical")
        assert b.decode().startswith("Row 1:\n──────\nx: 1\ns: a")

    def test_markdown(self, server_url):
        b = self._body(server_url,
                       "SELECT 1 AS x, 'a' AS s FORMAT Markdown")
        assert b == b"| x | s |\n|---:|:---|\n| 1 | a |\n"

    def test_tskv(self, server_url):
        b = self._body(server_url,
                       "SELECT 1 AS x, 'a' AS s FORMAT TSKV")
        assert b == b"x=1\ts=a\n"

    def test_json_strings(self, server_url):
        b = self._body(server_url, "SELECT 1 AS x FORMAT JSONStrings")
        doc = json.loads(b)
        assert doc["data"] == [{"x": "1"}]

    def test_json_columns_shapes(self, server_url):
        b = self._body(server_url,
                       "SELECT 1 AS x, 'a' AS s FORMAT JSONColumns")
        assert json.loads(b) == {"x": [1], "s": ["a"]}
        b2 = self._body(
            server_url,
            "SELECT 1 AS x, 'a' AS s FORMAT JSONCompactColumns",
        )
        assert json.loads(b2) == [[1], ["a"]]

    def test_json_object_each_row(self, server_url):
        b = self._body(
            server_url,
            "SELECT number AS n FROM numbers(2) ORDER BY n "
            "FORMAT JSONObjectEachRow",
        )
        assert json.loads(b) == {"row_1": {"n": 0}, "row_2": {"n": 1}}

    def test_xml(self, server_url):
        b = self._body(server_url,
                       "SELECT 1 AS x, 'a&b' AS s FORMAT XML")
        t = b.decode()
        assert t.startswith("<?xml version")
        assert "<x>1</x>" in t and "<s>a&amp;b</s>" in t
        assert "<rows>1</rows>" in t

    def test_line_as_string_and_rawblob(self, server_url):
        b = self._body(server_url,
                       "SELECT 'hi' AS s FORMAT LineAsString")
        assert b == b"hi\n"
        b2 = self._body(server_url, "SELECT 'ab' AS s FORMAT RawBLOB")
        assert b2 == b"ab"

    def test_line_as_string_multi_column_is_400(self, server_url):
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get_raw(_q(server_url,
                        "SELECT 1 AS x, 2 AS y FORMAT LineAsString"))
        assert ei.value.code == 400
        assert b"exactly one column" in ei.value.read()

    def test_pretty_space_and_aliases(self, server_url):
        b = self._body(server_url,
                       "SELECT 1 AS x FORMAT PrettySpace")
        assert b == b" x\n 1\n"
        # Pretty variants render through the box renderer
        b2 = self._body(
            server_url, "SELECT 1 AS x FORMAT PrettyCompactMonoBlock"
        )
        assert b2.startswith(b"+---+")
        # CustomSeparated's defaults ARE TabSeparated
        b3 = self._body(server_url,
                        "SELECT 1 AS x FORMAT CustomSeparated")
        assert b3 == b"1\n"

    def test_unknown_format_is_400_code_73(self, server_url):
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get_raw(_q(server_url, "SELECT 1 FORMAT Bogus123"))
        assert ei.value.code == 400
        body = ei.value.read()
        assert b"Code: 73" in body and b"Bogus123" in body

    def test_null_values_render(self, server_url):
        b = self._body(
            server_url,
            "SELECT CAST(NULL AS Nullable(Int64)) AS x FORMAT TSKV",
        )
        assert b == b"x=\\N\n"
        b2 = self._body(
            server_url,
            "SELECT CAST(NULL AS Nullable(Int64)) AS x "
            "FORMAT Vertical",
        )
        assert "ᴺᵁᴸᴸ" in b2.decode()


def test_zstd_response(server_url):
    import pyarrow as pa

    req = urllib.request.Request(
        _q(server_url, "SELECT 42 AS v FORMAT JSONEachRow"),
        headers={"Accept-Encoding": "zstd"},
    )
    with urllib.request.urlopen(req) as resp:
        assert resp.headers["Content-Encoding"] == "zstd"
        raw = resp.read()
    with pa.CompressedInputStream(pa.BufferReader(raw), "zstd") as st:
        assert json.loads(st.read()) == {"v": 42}


def test_zstd_response_gzip_preferred_when_both(server_url):
    import gzip

    req = urllib.request.Request(
        _q(server_url, "SELECT 1 AS v FORMAT JSONEachRow"),
        headers={"Accept-Encoding": "zstd, gzip"},
    )
    with urllib.request.urlopen(req) as resp:
        assert resp.headers["Content-Encoding"] == "gzip"
        assert json.loads(gzip.decompress(resp.read())) == {"v": 1}


def test_zstd_request_body(server_url):
    import pyarrow as pa

    _get_raw(
        _q(
            server_url,
            "CREATE TABLE IF NOT EXISTS zst_ins (id Int64, v String) "
            "ENGINE = MergeTree ORDER BY id",
        )
    )
    payload = bytes(
        pa.Codec("zstd").compress(b'{"id": 1, "v": "zstded"}\n')
    )
    req = urllib.request.Request(
        _q(server_url, "INSERT INTO zst_ins FORMAT JSONEachRow"),
        data=payload,
        headers={"Content-Encoding": "zstd"},
        method="POST",
    )
    urllib.request.urlopen(req).read()
    _, body, _ = _get_raw(
        _q(server_url, "SELECT v FROM zst_ins FORMAT JSONEachRow")
    )
    assert json.loads(body) == {"v": "zstded"}


def test_zstd_malformed_body_is_400(server_url):
    import urllib.error

    req = urllib.request.Request(
        _q(server_url, "INSERT INTO zst_ins FORMAT JSONEachRow"),
        data=b"\x28\xb5\x2f\xfdjunkjunkjunk",
        headers={"Content-Encoding": "zstd"},
        method="POST",
    )
    try:
        urllib.request.urlopen(req).read()
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400
