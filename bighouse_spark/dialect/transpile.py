"""ClickHouse-dialect SQL → Spark SQL pre-pass.

The only "frontend" the reference needed was none at all — it handed
an opaque SQL string to ClickHouse
(``temporal/workflow_query_executor.go:313``). To run those same
strings on Spark we rewrite, purely textually, before ``spark.sql``:

1. table functions ``s3/s3Cluster/url/urlCluster/file`` → a Spark read
   registered as a temp view, with CH schema strings parsed and
   ``{a..b}`` globs expanded (reference
   ``temporal/workflow_query_executor_test.go:41-70``),
2. ``{cluster}`` macro erased (Spark distributes splits natively),
3. CH function spellings → Spark (``uniq`` → ``approx_count_distinct``,
   ``cityHash64`` → ``xxhash64``, ``count()`` → ``count(*)``,
   ``toUInt32(x)`` → ``CAST(x AS BIGINT)``, …),
4. trailing ``SETTINGS k=v, ...`` stripped and mapped to Spark confs
   (reference ``workflow_query_executor_test.go:86``),
5. ``_file`` virtual column injected into table-function reads when
   referenced (``GROUP BY _file``, reference ``test.go:42-49``).

This is a pragmatic rewriter, not a full CH grammar: it covers the
constructs the reference demonstrably exercises (SURVEY.md §2.B) and
fails loudly otherwise.
"""

from __future__ import annotations

import contextvars
import functools
import itertools
import math
import os
import re
import threading
import random as _random
import time as _time
import uuid as _uuid
from collections import OrderedDict
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from bighouse_spark.dialect.globs import expand_braces

# Module import time = engine process start (uptime() anchor).
_PROCESS_START = _time.time()
from bighouse_spark.sources.readers import read_source

_TABLE_FUNCS = (
    "s3Cluster", "urlCluster", "s3", "url", "file", "merge",
    "clusterAllReplicas", "cluster", "values", "generateRandom",
    "remoteSecure", "remote", "postgresql", "mysql",
    "format", "null", "zeros_mt", "zeros",
    # Operator-backed table functions (no CH equivalent — the
    # LLM-pipeline operator library surfaced through SQL so the HTTP
    # and wire-protocol endpoints reach it):
    "dedupMinhashLSH", "tfidfTopK",
)

# CH 64-bit hash functions → xxhash64 (capability parity: any
# deterministic 64-bit row hash). Wrapped in DECIMAL(38,0) because the
# dominant usage is sum(cityHash64(*)) whole-table checksums
# (reference README.md:106-121) and CH UInt64 sums wrap while Spark's
# ANSI long sum overflows — decimal sums absorb the range.
_HASH_FUNCS = (
    "cityHash64", "sipHash64", "farmHash64", "farmFingerprint64",
    "intHash64", "xxh3",
)

# CH → Spark function renames applied as word-boundary rewrites of
# call sites. Only functions whose argument shapes line up 1:1.
_FUNC_RENAMES = {
    "uniq": "approx_count_distinct",
    "uniqCombined": "approx_count_distinct",
    "uniqCombined64": "approx_count_distinct",
    "uniqHLL12": "approx_count_distinct",
    "uniqTheta": "approx_count_distinct",
    "groupBitAnd": "bit_and",
    "groupBitOr": "bit_or",
    "groupBitXor": "bit_xor",
    "stddevPop": "stddev_pop",
    "stddevSamp": "stddev_samp",
    "varPop": "var_pop",
    "varSamp": "var_samp",
    "covarPop": "covar_pop",
    "covarSamp": "covar_samp",
    # *Stable variants: numerically-stable implementations of the
    # same statistics (Spark's are already Welford-style).
    "stddevPopStable": "stddev_pop",
    "stddevSampStable": "stddev_samp",
    "varPopStable": "var_pop",
    "varSampStable": "var_samp",
    "covarPopStable": "covar_pop",
    "covarSampStable": "covar_samp",
    "corrStable": "corr",
    "medianTiming": "median",
    "medianTDigest": "median",
    "medianBFloat16": "median",
    "any_respect_nulls": "any_value",
    "anyLast_respect_nulls": "any_value",
    "sumWithOverflow": "sum",
    # NOTE: uniqExact is in _WRAP_FUNCS — `count_distinct` is the
    # Python-API name only; Spark SQL needs count(DISTINCT x).
    "substringIndex": "substring_index",
    "makeDate": "make_date",
    "widthBucket": "width_bucket",
    "initcapUTF8": "initcap",
    "toColumnTypeName": "typeof",
    "min2": "least",
    "max2": "greatest",
    "toDate": "to_date",
    "toDateTime": "to_timestamp",
    "toYear": "year",
    "toMonth": "month",
    "toDayOfMonth": "day",
    "toHour": "hour",
    "toMinute": "minute",
    "toSecond": "second",
    "toStartOfSecond": "date_trunc('second', ",  # special form
    "toStartOfDay": "date_trunc('day', ",  # special form: open paren
    "toStartOfHour": "date_trunc('hour', ",
    "toStartOfMinute": "date_trunc('minute', ",
    "toStartOfMonth": "date_trunc('month', ",
    "toStartOfQuarter": "date_trunc('quarter', ",
    "toStartOfYear": "date_trunc('year', ",
    "toDayOfYear": "dayofyear",
    "toQuarter": "quarter",
    "toUnixTimestamp": "unix_timestamp",
    "fromUnixTimestamp": "from_unixtime",
    # CH documents DATABASE() as the case-insensitive alias of
    # currentDatabase(); \b-guarded renames can't re-match inside
    # the underscore of current_database.
    "DATABASE": "current_database",
    "Database": "current_database",
    "database": "current_database",
    "addDays": "date_add",
    "subtractDays": "date_sub",
    "lcase": "lower",
    "ucase": "upper",
    "lengthUTF8": "length",
    "ifNull": "coalesce",
    "arrayJoin": "explode",
    "has": "array_contains",
    # NOTE: CH position()/extract()/any()/range() are handled in
    # _rewrite_contextual — a blind rename here would corrupt standard
    # SQL POSITION(x IN y) / EXTRACT(unit FROM ts) / > ANY(subq) /
    # table-valued range().
    "match": "regexp_like",
    "arrayMax": "array_max",
    "arrayMin": "array_min",
    "bitShiftLeft": "shiftleft",
    "bitShiftRight": "shiftright",
    "replaceAll": "replace",
    "replaceRegexpAll": "regexp_replace",
    "trimLeft": "ltrim",
    "trimRight": "rtrim",
    "trimBoth": "trim",
    "leftPad": "lpad",
    "rightPad": "rpad",
    "base64Encode": "base64",
    "arrayStringConcat": "array_join",
    "arrayDistinct": "array_distinct",
    # arraySort moved to _ARG_REWRITES (round 11): the keyed
    # arraySort(f, arr[, arr2]) forms need a Schwartzian rewrite.
    "arrayReverse": "reverse",
    "arrayFlatten": "flatten",
    "arraySlice": "slice",
    "arrayConcat": "concat",
    "indexOf": "array_position",
    "modulo": "mod",
    "medianExact": "median",
    # countIf moved to _ARG_REWRITES (round 11): CH's 2-arg
    # countIf(x, cond) form needs arity dispatch.
    "argMax": "max_by",
    "argMin": "min_by",
    "groupArray": "collect_list",
    "groupUniqArray": "collect_set",
    "intDiv": "div",  # Spark div(a, b): integral division
    "hasAny": "arrays_overlap",
    # anyLast/any pick SOME value per group in CH (explicitly
    # nondeterministic there too); any_value is the Spark twin. Bare
    # `any` is NOT mapped — it would collide with `> ANY(subquery)`.
    "anyLast": "any_value",
    "arrayZip": "arrays_zip",
    # try_: CH returns the type default for out-of-bounds indices;
    # NULL is the honest Spark analog (ANSI element_at throws).
    "arrayElement": "try_element_at",
    "arrayPushBack": "array_append",
    "arrayPushFront": "array_prepend",
    "startsWith": "startswith",
    "endsWith": "endswith",
    "substringUTF8": "substring",
    "tuple": "struct",  # CH tuple(a, b) ≡ Spark struct (unnamed)
    "lowerUTF8": "lower",
    "upperUTF8": "upper",
    "toTypeName": "typeof",
    "bitCount": "bit_count",
    "mapKeys": "map_keys",
    "mapValues": "map_values",
    "arrayIntersect": "array_intersect",
    "arrayUnion": "array_union",
    "generateUUIDv4": "uuid",
    # CH randCanonical() is uniform [0,1) — exactly Spark's rand().
    # (CH's bare rand() is a UInt32 and is deliberately NOT mapped.)
    "randCanonical": "rand",
    "concatWithSeparator": "concat_ws",
    "isNaN": "isnan",
    "toJSONString": "to_json",
    "levenshteinDistance": "levenshtein",
    "editDistance": "levenshtein",
    "editDistanceUTF8": "levenshtein",
}

# Zero-argument CH date helpers (literal textual swap; now() parses
# natively in Spark).
_ZERO_ARG = {
    "today()": "current_date()",
    "yesterday()": "date_sub(current_date(), 1)",
    "currentDatabase()": "current_database()",
    "currentUser()": "current_user()",
    # One warm session is the whole "cluster": a stable literal is the
    # honest answer (the reference's nodes answer with Fly VM names).
    "hostName()": "'bighouse-spark'",
    "hostname()": "'bighouse-spark'",
    "FQDN()": "'bighouse-spark'",
    # Stable per-build literal (CH reports its compile hash).
    "buildId()": "'bighouse-spark-build'",
    "serverTimeZone()": "current_timezone()",
    "UTCTimestamp()": "to_utc_timestamp(now(), current_timezone())",
    # Stable for the engine-process lifetime, like CH's server UUID.
    "serverUUID()": f"'{_uuid.uuid4()}'",
    "nothing()": "NULL",
    "nowInBlock()": "now()",
    "currentProfiles()": "array('default')",
    "enabledProfiles()": "array('default')",
    "currentRoles()": "array('default')",
    # One warm session: shard 1 of 1; the native-wire port is the
    # module's canonical default (instances bind dynamically).
    "shardNum()": "CAST(1 AS INT)",
    "shardCount()": "CAST(1 AS INT)",
    "tcpPort()": "CAST(9000 AS INT)",
    **{
        f"emptyArray{ch}()": f"CAST(array() AS ARRAY<{sp}>)"
        for ch, sp in [
            ("Int8", "TINYINT"), ("Int16", "SMALLINT"), ("Int32", "INT"),
            ("Int64", "BIGINT"), ("UInt8", "SMALLINT"), ("UInt16", "INT"),
            ("UInt32", "BIGINT"), ("UInt64", "BIGINT"),
            ("Float32", "FLOAT"), ("Float64", "DOUBLE"),
            ("String", "STRING"), ("Date", "DATE"),
            ("DateTime", "TIMESTAMP"),
        ]
    },
}

# CH(arg) → wrapped Spark expression where a plain rename can't work.
# toDayOfWeek: CH is Monday=1..Sunday=7; Spark weekday() is Monday=0.
_WRAP_FUNCS = {
    # toDayOfWeek moved to _ARG_REWRITES (round 11): the 2-arg
    # MySQL week-mode form needs arity dispatch.
    "toYYYYMM": ("CAST(date_format(", ", 'yyyyMM') AS INT)"),
    "toYYYYMMDD": ("CAST(date_format(", ", 'yyyyMMdd') AS INT)"),
    # CH base64Decode returns String; Spark unbase64 returns BINARY.
    "base64Decode": ("CAST(unbase64(", ") AS STRING)"),
    # arrayUniq(x) counts distinct elements.
    "arrayUniq": ("size(array_distinct(", "))"),
    # CH partial-aggregate state combinators (AggregatingMergeTree
    # rollups): uniqState builds a mergeable sketch, uniqMerge unions
    # stored sketches and yields the estimate. Spark's DataSketches
    # HLL functions are the direct equivalent.
    "uniqExact": ("count(DISTINCT ", ")"),
    "countDistinct": ("count(DISTINCT ", ")"),
    # halfMD5: first 8 md5 bytes as a big-endian UInt64 (CH uses it
    # for sharding keys); DECIMAL(38,0) carries the unsigned range.
    "halfMD5": (
        "CAST(conv(substr(md5(", "), 1, 16), 16, 10) AS DECIMAL(38,0))"
    ),
    "toMonday": ("CAST(date_trunc('week', ", ") AS DATE)"),
    "toStartOfFiveMinutes": (
        "timestamp_seconds(CAST(floor(unix_timestamp(",
        ") / 300) * 300 AS BIGINT))",
    ),
    "toStartOfTenMinutes": (
        "timestamp_seconds(CAST(floor(unix_timestamp(",
        ") / 600) * 600 AS BIGINT))",
    ),
    "toStartOfFifteenMinutes": (
        "timestamp_seconds(CAST(floor(unix_timestamp(",
        ") / 900) * 900 AS BIGINT))",
    ),
    "toRelativeHourNum": (
        "CAST(floor(unix_timestamp(", ") / 3600) AS BIGINT)",
    ),
    "toRelativeMinuteNum": (
        "CAST(floor(unix_timestamp(", ") / 60) AS BIGINT)",
    ),
    "uniqState": ("hll_sketch_agg(", ")"),
    "uniqMerge": ("hll_sketch_estimate(hll_union_agg(", "))"),
    # The rest of the AggregatingMergeTree -State/-Merge family: for
    # decomposable aggregates the partial state IS the partial value
    # (sum of sums, min of mins, counts merge by summing); avg needs
    # the (sum, count) pair carried explicitly.
    "sumState": ("sum(", ")"),
    "sumMerge": ("sum(", ")"),
    "minState": ("min(", ")"),
    "minMerge": ("min(", ")"),
    "maxState": ("max(", ")"),
    "maxMerge": ("max(", ")"),
    "countState": ("count(", ")"),
    "countMerge": ("sum(", ")"),
    # -MergeState (merge partials, re-emit a state): with the
    # partial-IS-the-value representation above this is exactly the
    # -Merge fold; uniq's sketch state merges without estimating.
    "sumMergeState": ("sum(", ")"),
    "minMergeState": ("min(", ")"),
    "maxMergeState": ("max(", ")"),
    "countMergeState": ("sum(", ")"),
    "uniqMergeState": ("hll_union_agg(", ")"),
    # any/anyLast: partial IS the value; merges ignore NULL partials
    # (CH's any skips NULLs). Round-12 seam fix: these five leaked
    # UNRESOLVED_ROUTINE while initializeAggregation('anyState', v)
    # was already served.
    "anyState": ("any_value(", ", true)"),
    "anyLastState": ("any_value(", ", true)"),
    "anyMerge": ("any_value(", ", true)"),
    "anyLastMerge": ("any_value(", ", true)"),
    "anyMergeState": ("any_value(", ", true)"),
    "anyLastMergeState": ("any_value(", ", true)"),
    "avgState": (
        "named_struct('sum', sum(CAST(", " AS DOUBLE)), 'count', count(1))"
    ),
    # Nullability adapters are no-ops in Spark's type system.
    "assumeNotNull": ("(", ")"),
    "toNullable": ("(", ")"),
    # CH empty()/notEmpty() return UInt8 booleans: empty('') = 1,
    # notEmpty('x') = 1. A rename to isnull/length was silently wrong
    # ('' is not null; length() is INT, unusable as a WHERE predicate).
    # NULL is treated as empty (coalesce), matching the dominant CH
    # usage `WHERE notEmpty(col)` to drop blank-or-missing values.
    # Array args: use string columns here; CH empty() on arrays has no
    # single Spark textual twin (size() vs length()) — see tests.
    "empty": ("(coalesce(length(", "), 0) = 0)"),
    "notEmpty": ("(coalesce(length(", "), 0) > 0)"),
    # timeSlot: floor to the half-hour (CH's fixed 1800 s slot).
    "timeSlot": (
        "timestamp_seconds(CAST(floor(unix_timestamp(",
        ") / 1800) * 1800 AS BIGINT))",
    ),
    # ...OrNull/...OrZero parse-cast family → TRY_CAST.
    "toInt8OrNull": ("TRY_CAST(", " AS TINYINT)"),
    "toInt16OrNull": ("TRY_CAST(", " AS SMALLINT)"),
    "toInt32OrNull": ("TRY_CAST(", " AS INT)"),
    "toInt64OrNull": ("TRY_CAST(", " AS BIGINT)"),
    # Unsigned parse-casts RANGE-CHECK like CH (toUInt8OrZero('300')
    # is 0, not 300): the parsed value binds once via the
    # single-element transform LET, then the UIntN bounds gate it.
    # UInt64's upper half is the documented widening deviation.
    "toUInt8OrNull": (
        "element_at(transform(array(TRY_CAST(",
        " AS SMALLINT)), __v -> IF(__v >= 0 AND __v <= 255, __v, "
        "CAST(NULL AS SMALLINT))), 1)",
    ),
    "toUInt16OrNull": (
        "element_at(transform(array(TRY_CAST(",
        " AS INT)), __v -> IF(__v >= 0 AND __v <= 65535, __v, "
        "CAST(NULL AS INT))), 1)",
    ),
    "toUInt32OrNull": (
        "element_at(transform(array(TRY_CAST(",
        " AS BIGINT)), __v -> IF(__v >= 0 AND __v <= 4294967295, "
        "__v, CAST(NULL AS BIGINT))), 1)",
    ),
    "toUInt64OrNull": (
        "element_at(transform(array(TRY_CAST(",
        " AS BIGINT)), __v -> IF(__v >= 0, __v, "
        "CAST(NULL AS BIGINT))), 1)",
    ),
    "toFloat32OrNull": ("TRY_CAST(", " AS FLOAT)"),
    "toFloat64OrNull": ("TRY_CAST(", " AS DOUBLE)"),
    "toDateOrNull": ("TRY_CAST(", " AS DATE)"),
    "toInt8OrZero": ("coalesce(TRY_CAST(", " AS TINYINT), 0)"),
    "toInt16OrZero": ("coalesce(TRY_CAST(", " AS SMALLINT), 0)"),
    "toUInt8OrZero": (
        "coalesce(element_at(transform(array(TRY_CAST(",
        " AS SMALLINT)), __v -> IF(__v >= 0 AND __v <= 255, __v, "
        "CAST(NULL AS SMALLINT))), 1), 0)",
    ),
    "toUInt16OrZero": (
        "coalesce(element_at(transform(array(TRY_CAST(",
        " AS INT)), __v -> IF(__v >= 0 AND __v <= 65535, __v, "
        "CAST(NULL AS INT))), 1), 0)",
    ),
    "toDateTimeOrNull": ("TRY_CAST(", " AS TIMESTAMP)"),
    "toDateTimeOrZero": (
        "coalesce(TRY_CAST(", " AS TIMESTAMP), TIMESTAMP'1970-01-01')"
    ),
    "toDateOrZero": (
        "coalesce(TRY_CAST(", " AS DATE), DATE'1970-01-01')"
    ),
    "toInt32OrZero": ("coalesce(TRY_CAST(", " AS INT), 0)"),
    "toInt64OrZero": ("coalesce(TRY_CAST(", " AS BIGINT), 0)"),
    "toUInt32OrZero": (
        "coalesce(element_at(transform(array(TRY_CAST(",
        " AS BIGINT)), __v -> IF(__v >= 0 AND __v <= 4294967295, "
        "__v, CAST(NULL AS BIGINT))), 1), 0)",
    ),
    "toUInt64OrZero": (
        "coalesce(element_at(transform(array(TRY_CAST(",
        " AS BIGINT)), __v -> IF(__v >= 0, __v, "
        "CAST(NULL AS BIGINT))), 1), 0)",
    ),
    "toFloat32OrZero": ("coalesce(TRY_CAST(", " AS FLOAT), 0)"),
    "toFloat64OrZero": ("coalesce(TRY_CAST(", " AS DOUBLE), 0)"),
    "arrayProduct": (
        "aggregate(", ", CAST(1 AS DOUBLE), (acc, __x) -> acc * __x)"
    ),
}

# CH -If aggregate combinators: f_If(x..., cond) → f(CASE WHEN cond
# THEN x END, ...) — NULLed-out rows are ignored by every aggregate,
# which is exactly the combinator's filter semantics, and the base
# name still flows through the normal rename pipeline afterwards
# (uniqIf → uniq(CASE...) → approx_count_distinct(CASE...)).
# (countIf is count_if natively; listed in renames.)
_IF_COMBINATOR_BASES = (
    "sum", "avg", "min", "max", "anyLast", "any", "uniqExact",
    "uniqCombined64", "uniqCombined", "uniqHLL12", "uniq",
    "groupUniqArray", "groupArray", "argMax", "argMin", "stddevPop",
    "stddevSamp", "varPop", "varSamp", "corr", "covarPop", "covarSamp",
    "medianExact", "median", "quantileExact", "quantileTDigest",
    "quantilesExact", "quantiles", "quantile", "topKWeighted", "topK",
    "skewPop", "skewSamp", "kurtPop", "kurtSamp", "anyHeavy",
    "sumKahan", "groupBitmap",
    # round-11 combinator-intersection sweep: the exclusive-quantile
    # and remaining bare quantile members compose with -If too.
    # Plural names FIRST (they embed the singular spellings and the
    # loop scans in order).
    "quantilesExactExclusive", "quantileExactExclusive",
    "quantileExactLow", "quantileExactHigh",
    "quantileTiming", "quantileBFloat16",
)


def _rewrite_stacked_combinators(sql: str) -> str:
    """Stacked CH combinators — the orders users actually write:
    ``<agg>IfOrNull`` / ``<agg>OrNullIf`` (filter, NULL over an empty
    filtered set), ``<agg>IfOrDefault`` / ``<agg>OrDefaultIf``
    (filter, type default over empty), ``<agg>DistinctIf`` (distinct
    over the filtered values). Runs BEFORE the single-suffix passes
    so the emitted base names are final. Non-parametric forms only —
    parametric stacks surface the unresolved-routine error with the
    single-suffix spellings available."""
    out = sql
    numeric_default = {
        "sum", "avg", "count", "uniq", "uniqExact", "stddevPop",
        "stddevSamp", "varPop", "varSamp", "median",
    }
    for name in _IF_COMBINATOR_BASES + ("count",):
        base = {"any": "any_value", "anyLast": "any_value"}.get(name, name)
        for stack in ("IfOrNull", "OrNullIf", "IfOrDefault",
                      "OrDefaultIf", "DistinctIf"):
            fn = name + stack
            pos = 0
            while True:
                call = _find_call(out, fn, pos)
                if call is None:
                    break
                start, end, args = call
                if name == "count" and len(args) == 1:
                    # countIf's one-arg form: the arg IS the cond
                    args = ["1"] + args
                if len(args) < 2:
                    raise ValueError(f"{fn}() expects (expr..., cond)")
                cond = args[-1]
                vals = [
                    f"CASE WHEN ({cond}) THEN ({v}) END"
                    for v in args[:-1]
                ]
                joined = ", ".join(vals)
                if stack == "DistinctIf":
                    if name == "count":
                        inner = f"count(DISTINCT {joined})"
                    elif name.startswith("uniq"):
                        inner = f"{base}({joined})"
                    else:
                        inner = f"{base}(DISTINCT {joined})"
                elif stack in ("IfOrNull", "OrNullIf"):
                    if name == "count":
                        inner = f"nullif(count({joined}), 0)"
                    else:
                        tail = ", true" if base == "any_value" else ""
                        inner = f"{base}({joined}{tail})"
                else:  # IfOrDefault / OrDefaultIf
                    if name in ("groupArray", "groupUniqArray"):
                        dflt = "array()"
                    elif name in numeric_default:
                        dflt = "0"
                    else:
                        raise ValueError(
                            f"{fn}: the default is the column type's "
                            "zero value; spell it as "
                            f"coalesce({name}If(...), <default>)"
                        )
                    tail = ", true" if base == "any_value" else ""
                    inner = f"coalesce({base}({joined}{tail}), {dflt})"
                out = f"{out[:start]}{inner}{out[end:]}"
                pos = start + 1
    return out


def _rewrite_if_combinators(sql: str) -> str:
    """Generic ``<agg>If(args..., cond)`` rewrite, including the
    parametric form ``quantileIf(p)(x, cond)`` — runs BEFORE the
    parametric rewrite so the de-suffixed call is picked up there.
    ``any``/``anyLast`` emit ``any_value`` directly: the contextual
    any→any_value pass has already run by the time this rewrite
    produces its output, and Spark's bare ``any()`` is boolean-OR."""
    out = sql
    for name in _IF_COMBINATOR_BASES:
        fn = name + "If"
        base = {"any": "any_value", "anyLast": "any_value"}.get(name, name)
        pos = 0
        while True:
            call = _find_call(out, fn, pos)
            if call is None:
                break
            start, end, args = call
            # Parametric: fn(params)(real_args) — first group is the
            # parameter list; the argument group follows immediately.
            rest = out[end:]
            pm = re.match(r"\s*\(", rest)
            if pm:
                j, depth, quote = end + pm.end(), 1, None
                while j < len(out) and depth:
                    c = out[j]
                    if quote:
                        quote = None if c == quote else quote
                    elif c in "'\"":
                        quote = c
                    elif c == "(":
                        depth += 1
                    elif c == ")":
                        depth -= 1
                    j += 1
                real = _split_args_top(out[end + pm.end():j - 1])
                if len(real) < 2:
                    raise ValueError(f"{fn}(...)(args, cond): missing cond")
                cond = real[-1]
                vals = ", ".join(
                    f"CASE WHEN ({cond}) THEN ({v}) END" for v in real[:-1]
                )
                out = (
                    f"{out[:start]}{base}({', '.join(args)})({vals})"
                    f"{out[j:]}"
                )
            else:
                if len(args) < 2:
                    raise ValueError(f"{fn}() expects (expr..., cond)")
                cond = args[-1]
                vals = ", ".join(
                    f"CASE WHEN ({cond}) THEN ({v}) END" for v in args[:-1]
                )
                # any_value keeps NULLs by default — the filtered-out
                # rows must be skipped, so pass ignoreNulls.
                tail = ", true" if base == "any_value" else ""
                out = f"{out[:start]}{base}({vals}{tail}){out[end:]}"
            pos = start + 1
    return out


def _rewrite_suffix_combinators(sql: str) -> str:
    """CH ``-Distinct`` / ``-OrNull`` / ``-OrDefault`` aggregate
    combinators over the same base list as ``-If``:

    * ``fDistinct(x)`` → ``f(DISTINCT x)``.
    * ``fOrNull(x)`` → ``f(x)`` — every Spark aggregate except count
      already yields NULL over zero rows; ``countOrNull`` becomes
      ``nullif(count(x), 0)``.
    * ``fOrDefault(x)`` → ``coalesce(f(x), <default>)`` with 0 for
      scalars and ``array()`` for the groupArray family (CH defaults
      the aggregate's return type; numeric 0 / empty array covers the
      types these bases produce).
    """
    # Bases whose CH return-type default is numeric 0 — safe to
    # coalesce. Value-carrying bases (min/max/any/arg*) default to the
    # COLUMN type's zero value, which the rewriter cannot spell
    # without type info — those refuse with the explicit coalesce.
    numeric_default = {
        "sum", "avg", "count", "uniq", "uniqExact", "uniqCombined",
        "uniqCombined64", "uniqHLL12", "stddevPop", "stddevSamp",
        "varPop", "varSamp", "corr", "covarPop", "covarSamp",
        "skewPop", "skewSamp", "kurtPop", "kurtSamp", "sumKahan",
        "median", "medianExact", "quantile", "quantileExact",
        "quantileTDigest",
    }

    def _parametric_span(s: str, end: int):
        """(args_start, args_end_excl, args) of a following (...)
        group, or None if the call is not parametric."""
        pm = re.match(r"\s*\(", s[end:])
        if not pm:
            return None
        j, depth, quote = end + pm.end(), 1, None
        while j < len(s) and depth:
            c = s[j]
            if quote:
                quote = None if c == quote else quote
            elif c in "'\"":
                quote = c
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            j += 1
        return end + pm.end(), j, _split_args_top(s[end + pm.end():j - 1])

    out = sql
    for name in _IF_COMBINATOR_BASES + ("count",):
        base = {"any": "any_value", "anyLast": "any_value"}.get(name, name)
        for suffix in ("Distinct", "OrNull", "OrDefault"):
            pos = 0
            while True:
                call = _find_call(out, name + suffix, pos)
                if call is None:
                    break
                start, end, args = call
                span = _parametric_span(out, end)
                if span is not None:
                    # fn(params)(args): the suffix applies to the
                    # ARGUMENT list; params pass through to the
                    # parametric machinery under the base name.
                    _, j, real = span
                    params = args
                    if suffix == "Distinct":
                        inner_args = (
                            ", ".join(real)
                            if name.startswith("uniq")
                            else f"DISTINCT {', '.join(real)}"
                        )
                        repl = (
                            f"{base}({', '.join(params)})({inner_args})"
                        )
                    elif suffix == "OrNull":
                        e = (
                            f"{base}({', '.join(params)})"
                            f"({', '.join(real)})"
                        )
                        # count-like bases return 0 (not NULL) over
                        # zero rows; collect-like return array() —
                        # CH's -OrNull yields NULL for both.
                        if name.startswith("uniq") or name == (
                            "groupBitmap"
                        ):
                            repl = f"nullif({e}, 0)"
                        elif name in (
                            "topK", "topKWeighted", "groupArray",
                            "groupUniqArray",
                        ):
                            repl = f"IF(size({e}) = 0, NULL, {e})"
                        else:
                            repl = e
                    else:  # OrDefault
                        if name not in numeric_default:
                            raise ValueError(
                                f"{name}OrDefault: the default is the "
                                "column type's zero value; spell it "
                                f"as coalesce({name}(...), <default>)"
                            )
                        repl = (
                            f"coalesce({base}({', '.join(params)})"
                            f"({', '.join(real)}), 0)"
                        )
                    out = out[:start] + repl + out[j:]
                    pos = start + 1
                    continue
                if suffix == "Distinct":
                    if name.startswith("uniq"):
                        # Already distinct-valued; DISTINCT-of-DISTINCT
                        # is identity (the uniqExact wrap emits its own
                        # DISTINCT keyword).
                        inner = f"{base}({', '.join(args)})"
                    else:
                        inner = f"{base}(DISTINCT {', '.join(args)})"
                elif suffix == "OrNull":
                    if name == "count":
                        inner = (
                            f"nullif(count({', '.join(args) or '*'}), 0)"
                        )
                    elif name.startswith("uniq") or name == (
                        "groupBitmap"
                    ):
                        # 0 over zero rows (round-11 fix: uniqOrNull
                        # returned 0 where CH yields NULL)
                        inner = (
                            f"nullif({base}({', '.join(args)}), 0)"
                        )
                    elif name in (
                        "topK", "topKWeighted", "groupArray",
                        "groupUniqArray",
                    ):
                        e = f"{base}({', '.join(args)})"
                        inner = f"IF(size({e}) = 0, NULL, {e})"
                    else:
                        inner = f"{base}({', '.join(args)})"
                else:  # OrDefault
                    if name in ("groupArray", "groupUniqArray"):
                        inner = (
                            f"coalesce({base}({', '.join(args)}), "
                            f"array())"
                        )
                    elif name in numeric_default:
                        inner = (
                            f"coalesce({base}({', '.join(args)}), 0)"
                        )
                    else:
                        raise ValueError(
                            f"{name}OrDefault: the default is the "
                            "column type's zero value; spell it as "
                            f"coalesce({name}(...), <default>)"
                        )
                out = f"{out[:start]}{inner}{out[end:]}"
                pos = start + 1
    return out


def _sql_regex_literal(quoted: str) -> str:
    """A CH string literal used as a *literal* separator → a Spark SQL
    string literal holding a regex that matches it exactly."""
    raw = _unquote(quoted)
    escaped = re.escape(raw).replace("\\", "\\\\").replace("'", "''")
    return f"'{escaped}'"


# CH formatDateTime %-specs (MySQL-style) → Spark date_format patterns.
# Only unambiguous specs are mapped; anything else raises (the module
# contract is fail-loudly, not silently-wrong).
_DT_SPECS = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd", "%H": "HH",
    "%i": "mm", "%S": "ss", "%s": "ss", "%e": "d", "%j": "DDD",
    "%F": "yyyy-MM-dd", "%T": "HH:mm:ss", "%p": "a", "%a": "EEE",
    "%W": "EEEE", "%%": "%",
    # Modern CH defaults (formatdatetime_..._m_is_month_name=1,
    # the 23.x MySQL-compat behavior): %M = full month name
    # (minute is %i), %b = abbreviated month, %c = numeric month,
    # %k = 24h hour, %l/%h = 12h hour, %D = mm/dd/yy, %R = HH:mm,
    # %n = newline, %t = tab.
    "%M": "MMMM", "%b": "MMM", "%c": "MM", "%k": "HH", "%l": "hh",
    "%h": "hh", "%I": "hh", "%D": "MM/dd/yy", "%R": "HH:mm",
    "%n": "\n", "%t": "\t",
}

# Week-based specs (%G/%g ISO week-year, %V ISO week, %u ISO weekday)
# have NO valid date_format pattern: Spark 3+ rejects the Java
# week-based letters (YYYY/ww/u) outright. They compose as extract()
# expressions concat'd between the date_format pieces instead.
_DT_WEEK_SPECS = {
    "%G": "cast(extract(YEAROFWEEK FROM {x}) AS STRING)",
    "%g": "lpad(cast(extract(YEAROFWEEK FROM {x}) % 100 AS STRING), 2, '0')",
    "%V": "lpad(cast(extract(WEEK FROM {x}) AS STRING), 2, '0')",
    "%u": "cast(extract(DAYOFWEEK_ISO FROM {x}) AS STRING)",
}


def _translate_dt_format(quoted: str) -> str:
    """Pattern-only translation (the PARSE direction: to_timestamp
    needs a single pattern literal, so week-based specs that only
    exist as extract() expressions are refused with guidance)."""
    fmt = _unquote(quoted)
    out, i = [], 0
    while i < len(fmt):
        if fmt[i] == "%":
            spec = fmt[i : i + 2]
            if spec in _DT_WEEK_SPECS:
                raise ValueError(
                    f"parseDateTime: week-based spec {spec!r} has no "
                    "Spark parse pattern; parse a full date and "
                    "derive the week with extract(WEEK/YEAROFWEEK/"
                    "DAYOFWEEK_ISO ...) instead"
                )
            if spec not in _DT_SPECS:
                raise ValueError(f"formatDateTime: unsupported spec {spec!r}")
            out.append(_DT_SPECS[spec])
            i += 2
        else:
            # Non-spec literal chars: quote letters so date_format
            # doesn't interpret them as pattern symbols.
            c = fmt[i]
            out.append(f"'{c}'" if c.isalpha() else c)
            i += 1
    # Merge adjacent quoted literal chars ('a' + 't' → 'at'), then
    # escape the pattern-level quotes for the SQL literal.
    joined = "".join(out).replace("''", "")
    return "'" + joined.replace("'", "''") + "'"


def _format_datetime(args: list[str]) -> str:
    """formatDateTime(x, fmt) → date_format(...), or a concat of
    date_format pieces and extract() expressions when the format
    mixes in week-based specs (%G/%g/%V/%u) that Spark's pattern
    language rejects."""
    x, quoted = args[0], args[1]
    fmt = _unquote(quoted)
    pieces: list[tuple[str, str]] = []  # ("fmt", pattern) | ("wk", spec)
    cur: list[str] = []
    i = 0
    while i < len(fmt):
        if fmt[i] == "%":
            spec = fmt[i : i + 2]
            if spec in _DT_WEEK_SPECS:
                if cur:
                    pieces.append(("fmt", "".join(cur)))
                    cur = []
                pieces.append(("wk", spec))
            elif spec in _DT_SPECS:
                cur.append(_DT_SPECS[spec])
            else:
                raise ValueError(f"formatDateTime: unsupported spec {spec!r}")
            i += 2
        else:
            c = fmt[i]
            cur.append(f"'{c}'" if c.isalpha() else c)
            i += 1
    if cur:
        pieces.append(("fmt", "".join(cur)))
    def _fmt_piece(val: str) -> str:
        # Merge adjacent quoted literal chars at the PATTERN level,
        # then double pattern-internal quotes for the SQL literal.
        pat = val.replace("''", "")
        return f"date_format({x}, '" + pat.replace("'", "''") + "')"

    parts = [
        _fmt_piece(val) if kind == "fmt"
        else _DT_WEEK_SPECS[val].format(x=x)
        for kind, val in pieces
    ]
    if not parts:
        return "''"
    return parts[0] if len(parts) == 1 else f"concat({', '.join(parts)})"


def _match_paren_back(s: str, close_idx: int) -> int | None:
    """Index of the '(' matching ``s[close_idx] == ')'`` (quote-aware
    backward scan); None when unbalanced."""
    depth, i = 0, close_idx
    while i >= 0:
        c = s[i]
        if c == "'":
            i -= 1
            while i >= 0 and s[i] != "'":
                i -= 1
        elif c == ")":
            depth += 1
        elif c == "(":
            depth -= 1
            if depth == 0:
                return i
        i -= 1
    return None


def _match_paren_fwd(s: str, open_idx: int) -> int | None:
    depth, i, quote = 0, open_idx, None
    while i < len(s):
        c = s[i]
        if quote:
            if c == quote:
                quote = None
        elif c in "'\"":
            quote = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    return None


_TUPLE_IN_RE = re.compile(r"\)\s*(NOT\s+)?IN\s*\(", re.IGNORECASE)
_TUPLE_EQ_RE = re.compile(r"\)\s*(=|!=|<>)\s*\(")

# Keywords that can directly precede a bare tuple '(' — a '(' after
# one of these is grouping/tuple syntax, not a function's arg list.
_TUPLE_CTX_KEYWORDS = {
    "WHERE", "AND", "OR", "NOT", "ON", "WHEN", "THEN", "ELSE",
    "HAVING", "SELECT", "BY", "IN", "CASE", "END", "QUALIFY",
    "PREWHERE", "RETURNING", "SET", "BETWEEN", "IS", "AS",
}


def _rewrite_tuple_ops(sql: str) -> str:
    """CH tuple comparisons → field-wise Boolean expansion. Spark's
    struct IN/equality needs EXACT element types (an INT literal never
    matches a BIGINT column inside a struct), so ``(a, b) IN ((1, 1),
    (2, 2))`` expands to ``((a)=(1) AND (b)=(1)) OR (...)`` — plain
    equality gets normal numeric coercion, and NULL propagation
    matches SQL IN semantics exactly. Function-call argument lists
    (``f(a, b) IN ...``) are left untouched (the char before the
    left '(' is an identifier)."""

    def _is_call(open_idx: int) -> bool:
        # A '(' directly after an identifier is an argument list —
        # UNLESS that identifier is a SQL keyword (WHERE (a,b) IN …).
        j = open_idx - 1
        while j >= 0 and sql[j].isspace():
            j -= 1
        if j < 0:
            return False
        if sql[j] in ")]'\"`":
            return True
        if not (sql[j].isalnum() or sql[j] == "_"):
            return False
        k = j
        while k >= 0 and (sql[k].isalnum() or sql[k] == "_"):
            k -= 1
        return sql[k + 1 : j + 1].upper() not in _TUPLE_CTX_KEYWORDS

    def _is_subquery(parts: list[str]) -> bool:
        head = parts[0].lstrip().upper() if parts else ""
        return head.startswith("SELECT") or head.startswith("WITH")

    changed = True
    while changed:
        changed = False
        for m in _TUPLE_IN_RE.finditer(sql):
            close_l = m.start()
            open_l = _match_paren_back(sql, close_l)
            if open_l is None or _is_call(open_l):
                continue
            left = _split_args_top(sql[open_l + 1 : close_l])
            if len(left) < 2 or _is_subquery(left):
                continue
            open_r = m.end() - 1
            close_r = _match_paren_fwd(sql, open_r)
            if close_r is None:
                continue
            elems = _split_args_top(sql[open_r + 1 : close_r])
            tuples = []
            ok = True
            for e in elems:
                e = e.strip()
                if not (e.startswith("(") and e.endswith(")")
                        and _match_paren_fwd(e, 0) == len(e) - 1):
                    ok = False
                    break
                vals = _split_args_top(e[1:-1])
                if len(vals) != len(left):
                    ok = False
                    break
                tuples.append(vals)
            if not ok or not tuples:
                continue
            ors = " OR ".join(
                "(" + " AND ".join(
                    f"({l.strip()}) = ({v.strip()})"
                    for l, v in zip(left, vals)
                ) + ")"
                for vals in tuples
            )
            repl = f"({ors})"
            if m.group(1):
                repl = f"(NOT {repl})"
            sql = sql[:open_l] + repl + sql[close_r + 1:]
            changed = True
            break
    changed = True
    while changed:
        changed = False
        for m in _TUPLE_EQ_RE.finditer(sql):
            close_l = m.start()
            open_l = _match_paren_back(sql, close_l)
            if open_l is None or _is_call(open_l):
                continue
            left = _split_args_top(sql[open_l + 1 : close_l])
            if len(left) < 2 or _is_subquery(left):
                continue
            open_r = m.end() - 1
            close_r = _match_paren_fwd(sql, open_r)
            if close_r is None:
                continue
            right = _split_args_top(sql[open_r + 1 : close_r])
            if len(right) != len(left) or _is_subquery(right):
                continue
            conj = " AND ".join(
                f"({l.strip()}) = ({r.strip()})"
                for l, r in zip(left, right)
            )
            repl = f"({conj})"
            if m.group(1) in ("!=", "<>"):
                repl = f"(NOT {repl})"
            sql = sql[:open_l] + repl + sql[close_r + 1:]
            changed = True
            break
    return sql


def _multi_if(args: list[str]) -> str:
    if len(args) < 3 or len(args) % 2 == 0:
        raise ValueError(f"multiIf() needs cond/value pairs + else, got {args}")
    parts = ["CASE"]
    for i in range(0, len(args) - 1, 2):
        parts.append(f"WHEN ({args[i]}) THEN ({args[i + 1]})")
    parts.append(f"ELSE ({args[-1]}) END")
    return " ".join(parts)


def _ema_builder(p: list[str], a: list[str]) -> str:
    """exponentialMovingAverage(halflife)(value, time) → the decayed
    weighted mean anchored at the latest sample: Σ v·2^(−(T−t)/h) /
    Σ 2^(−(T−t)/h) with T = max(t). Order-free (weights depend on
    the timestamps, not arrival order)."""
    if len(a) != 2:
        raise ValueError(
            "exponentialMovingAverage(halflife)(value, timeunit) "
            "takes exactly two arguments"
        )
    lst = (
        f"collect_list(named_struct('t', CAST({a[1]} AS DOUBLE), "
        f"'v', CAST({a[0]} AS DOUBLE)))"
    )
    tm = f"array_max(transform({lst}, __e -> __e.t))"
    num = (
        f"aggregate({lst}, CAST(0 AS DOUBLE), (__acc, __e) -> "
        f"__acc + __e.v * pow(2, (__e.t - {tm}) / ({p[0]})))"
    )
    den = (
        f"aggregate({lst}, CAST(0 AS DOUBLE), (__acc, __e) -> "
        f"__acc + pow(2, (__e.t - {tm}) / ({p[0]})))"
    )
    return f"(({num}) / ({den}))"


def _ks_test_builder(a: list[str], params: list[str] | None = None) -> str:
    """kolmogorovSmirnovTest([alternative, method])(x, sample_idx) →
    ``(d_statistic, p_value)`` as a named struct.

    One sorted collect per group, then a single O(n) fold over the
    pooled ranks: the ECDF difference is taken only at distinct-value
    BOUNDARIES (tie-aware — comparing mid-tie overstates D), with the
    sample sizes coming from two scalar conditional-count aggregates
    that Spark computes once and binds into the lambda (not an O(n²)
    in-lambda rescan). The p-value is the asymptotic Kolmogorov
    series 2·Σ(-1)^(k-1)·exp(-2k²λ²), λ = D·√(n0·n1/(n0+n1)) — CH's
    large-sample method; the small-sample 'exact' method is refused
    with guidance."""
    if len(a) != 2:
        raise ValueError(
            "kolmogorovSmirnovTest(x, sample_index) takes exactly "
            "two arguments (sample_index 0/1)"
        )
    if params:
        alt = params[0].strip("'\" ").lower()
        if alt not in ("two-sided", "twosided"):
            raise ValueError(
                f"kolmogorovSmirnovTest: alternative {params[0]} is "
                "not supported; only 'two-sided' is implemented"
            )
        if len(params) > 1:
            method = params[1].strip("'\" ").lower()
            if method == "exact":
                # Small-sample exact enumeration: one collect, one
                # Arrow-batched UDF doing the tie-aware D walk + the
                # lattice path-count DP (bh_ks_exact, miscfuncs.py;
                # capped at n0+n1 <= 1000 with a guided runtime
                # error). 'auto' stays asymptotic — group sizes are
                # unknown at transpile time.
                x, idx = a
                both = (
                    f"({x}) IS NOT NULL AND ({idx}) IS NOT NULL"
                )
                arr_x = (
                    f"collect_list(CASE WHEN {both} THEN "
                    f"named_struct('v', CAST({x} AS DOUBLE), "
                    f"'i', CAST({idx} AS INT)) END)"
                )
                nan_e = "CAST('NaN' AS DOUBLE)"
                return (
                    f"element_at(transform(array("
                    f"bh_ks_exact({arr_x})), __kr -> named_struct("
                    f"'d_statistic', coalesce(__kr.d_statistic, "
                    f"{nan_e}), "
                    f"'p_value', coalesce(__kr.p_value, {nan_e}))), 1)"
                )
    # NULL rows (value or index) are skipped, CH aggregate semantics:
    # the CASE yields NULL so collect_list drops the row, and the
    # counts carry the same predicate.
    arr = (
        f"sort_array(collect_list(CASE WHEN ({a[0]}) IS NOT NULL "
        f"AND ({a[1]}) IS NOT NULL THEN named_struct("
        f"'v', CAST({a[0]} AS DOUBLE), 'i', CAST({a[1]} AS INT)) "
        f"END))"
    )
    n0 = (
        f"sum(CAST(CASE WHEN ({a[0]}) IS NOT NULL AND "
        f"CAST({a[1]} AS INT) = 0 THEN 1 ELSE 0 END AS DOUBLE))"
    )
    n1 = (
        f"sum(CAST(CASE WHEN ({a[0]}) IS NOT NULL AND "
        f"CAST({a[1]} AS INT) <> 0 THEN 1 ELSE 0 END AS DOUBLE))"
    )
    # Floor-guard every n0/n1 division: a group with rows in only one
    # sample would otherwise DIVIDE_BY_ZERO inside the fold (ANSI
    # raises for doubles too).
    gn0 = f"greatest({n0}, CAST(1e-300 AS DOUBLE))"
    gn1 = f"greatest({n1}, CAST(1e-300 AS DOUBLE))"
    diff = f"abs(__acc.c0 / {gn0} - __acc.c1 / {gn1})"
    d = (
        f"aggregate({arr}, "
        f"named_struct('c0', CAST(0 AS DOUBLE), 'c1', CAST(0 AS "
        f"DOUBLE), 'd', CAST(0 AS DOUBLE), 'prev', CAST(NULL AS "
        f"DOUBLE)), "
        f"(__acc, __e) -> named_struct("
        f"'c0', CAST(__acc.c0 + IF(__e.i = 0, 1, 0) AS DOUBLE), "
        f"'c1', CAST(__acc.c1 + IF(__e.i <> 0, 1, 0) AS DOUBLE), "
        f"'d', CAST(IF(__acc.prev IS NULL OR __e.v = __acc.prev, "
        f"__acc.d, greatest(__acc.d, {diff})) AS DOUBLE), "
        f"'prev', CAST(__e.v AS DOUBLE)), "
        f"__acc -> greatest(__acc.d, {diff}))"
    )
    lam2 = (
        f"(({d}) * ({d}) * ({n0}) * ({n1}) / "
        f"greatest(({n0}) + ({n1}), CAST(1e-300 AS DOUBLE)))"
    )
    series = (
        f"least(CAST(1 AS DOUBLE), greatest(CAST(0 AS DOUBLE), "
        f"2 * aggregate(sequence(1, 100), CAST(0 AS DOUBLE), "
        f"(__a, __k) -> __a + pow(-1, __k - 1) * "
        f"exp(-2 * __k * __k * {lam2}), __a -> __a)))"
    )
    # λ² ≈ 0 breaks the truncated alternating series (all terms ≈ 1,
    # partial sum after an even count ≈ 0) — but Q(λ→0) is 1, so
    # identical samples / degenerate groups must report p = 1 (and a
    # NaN statistic when a sample is empty), matching the MWU
    # builder's degenerate behavior.
    ok = f"(({n0}) >= 1 AND ({n1}) >= 1)"
    nan = "CAST('NaN' AS DOUBLE)"
    p = (
        f"IF(NOT {ok} OR ({lam2}) < CAST(1e-6 AS DOUBLE), "
        f"CAST(1 AS DOUBLE), {series})"
    )
    return (
        f"named_struct('d_statistic', IF({ok}, ({d}), {nan}), "
        f"'p_value', ({p}))"
    )


def _ttest_builder(kind: str):
    """studentTTest / welchTTest (x, sample_idx) → ``(t_statistic,
    p_value)``. Closed form over conditional aggregates (JVM-side
    avg/var_samp/count per sample — no collect, no fold); the
    two-sided p comes from ``bh_t_pvalue2`` (regularized incomplete
    beta, continued-fraction evaluation — anchors verified against
    published t-tables). Student pools the variance with
    df = n0+n1−2; Welch uses the Satterthwaite df. Every denominator
    is floor-guarded: ANSI Spark raises DIVIDE_BY_ZERO even for
    doubles, and the p UDF is extracted into an eager projection that
    an IF cannot lazily protect (same trap as ``_mwu_builder``);
    degenerate inputs (a sample with <2 rows) surface as NaN. The
    parameterized confidence-interval form needs a t-distribution
    quantile this build does not ship — use meanZTest for a
    normal-approximation CI."""

    def build(a: list[str], params: list[str] | None = None) -> str:
        if params:
            raise ValueError(
                f"{kind}(confidence_level)(...) needs the "
                "t-distribution quantile for its confidence "
                "interval, which this build does not implement; "
                "use the plain two-argument form for (t, p), or "
                "meanZTest(v0, v1, conf) for a normal-approximation "
                "CI"
            )
        if len(a) != 2:
            raise ValueError(
                f"{kind}(x, sample_index) takes exactly two "
                "arguments (sample_index 0/1)"
            )
        x, i = a
        m0 = f"avg(CASE WHEN CAST({i} AS INT) = 0 THEN CAST({x} AS DOUBLE) END)"
        m1 = f"avg(CASE WHEN CAST({i} AS INT) <> 0 THEN CAST({x} AS DOUBLE) END)"
        s0 = f"var_samp(CASE WHEN CAST({i} AS INT) = 0 THEN CAST({x} AS DOUBLE) END)"
        s1 = f"var_samp(CASE WHEN CAST({i} AS INT) <> 0 THEN CAST({x} AS DOUBLE) END)"
        n0 = f"CAST(count(CASE WHEN CAST({i} AS INT) = 0 THEN {x} END) AS DOUBLE)"
        n1 = f"CAST(count(CASE WHEN CAST({i} AS INT) <> 0 THEN {x} END) AS DOUBLE)"
        g = "greatest({}, CAST(1e-300 AS DOUBLE))"
        if kind == "studentTTest":
            sp2 = (
                f"((({n0}) - 1) * ({s0}) + (({n1}) - 1) * ({s1})) / "
                + g.format(f"(({n0}) + ({n1}) - 2)")
            )
            se = (
                f"sqrt(({sp2}) * (1 / {g.format(n0)} + "
                f"1 / {g.format(n1)}))"
            )
            df = f"(({n0}) + ({n1}) - 2)"
        else:  # welchTTest
            v0n = f"(({s0}) / {g.format(n0)})"
            v1n = f"(({s1}) / {g.format(n1)})"
            se = f"sqrt({v0n} + {v1n})"
            df = (
                f"(pow({v0n} + {v1n}, 2) / "
                + g.format(
                    f"(pow({v0n}, 2) / {g.format(f'(({n0}) - 1)')} + "
                    f"pow({v1n}, 2) / {g.format(f'(({n1}) - 1)')})"
                )
                + ")"
            )
        t = f"((({m0}) - ({m1})) / {g.format(f'({se})')})"
        ok = f"(({n0}) >= 2 AND ({n1}) >= 2)"
        nan = "CAST('NaN' AS DOUBLE)"
        return (
            f"named_struct("
            f"'t_statistic', IF({ok}, ({t}), {nan}), "
            f"'p_value', IF({ok}, bh_t_pvalue2(({t}), ({df})), {nan}))"
        )

    return build


def _anova_builder(a: list[str]) -> str:
    """analysisOfVariance / anova (x, group_id) → ``(f_statistic,
    p_value)``: one-way ANOVA (CH AggregateFunctions/AggregateFunctionAnalysisOfVariance).

    One ``collect_list`` of (group, x) per output group, then a
    single Arrow-batched pass (``bh_anova``, miscfuncs) accumulates
    per-group subtotals and evaluates SSB = Σ_g (Σx_g)²/n_g − T²/N
    (df1 = k−1), SSW = Σx² − Σ_g (Σx_g)²/n_g (df2 = N−k),
    F = (SSB/df1)/(SSW/df2), and p = P(F_{df1,df2} > F) via the same
    regularized-incomplete-beta engine as the t-tests. (An earlier
    pure-SQL fold formulation textually re-embedded the O(n log n)
    sorted fold at every reference — ~10 copies per projection — and
    a LET-binding rewrite can't reach the p-value because Python
    UDFs are unsupported inside lambda bodies; the one-UDF shape
    evaluates everything exactly once.) Groups key on the value's
    string form (works for any group type, no overflow); NULL x or
    group rows are skipped per CH aggregate semantics; k < 2 or
    N ≤ k → NaN."""
    if len(a) != 2:
        raise ValueError(
            "analysisOfVariance(x, group_id) takes exactly two "
            "arguments"
        )
    x, g = a
    both = f"({x}) IS NOT NULL AND ({g}) IS NOT NULL"
    arr = (
        f"collect_list(CASE WHEN {both} THEN named_struct("
        f"'g', CAST({g} AS STRING), 'v', CAST({x} AS DOUBLE)) END)"
    )
    # Arrow's pandas→JVM conversion delivers the UDF's NaNs as NULLs;
    # LET-bind the one UDF call and restore CH's NaN convention (the
    # UDF never returns a legitimate NULL, so coalesce is safe).
    nan = "CAST('NaN' AS DOUBLE)"
    return (
        f"element_at(transform(array(bh_anova({arr})), __ar -> "
        f"named_struct("
        f"'f_statistic', coalesce(__ar.f_statistic, {nan}), "
        f"'p_value', coalesce(__ar.p_value, {nan}))), 1)"
    )


def _mean_z_builder(params: list[str], a: list[str]) -> str:
    """meanZTest(pop_var0, pop_var1, confidence)(x, sample_idx) →
    ``(z_statistic, p_value, confidence_interval_low,
    confidence_interval_high)``: the closed-form two-sample z with
    KNOWN population variances; p = erfc(|z|/√2), CI on the mean
    difference via the inverse-normal quantile (Acklam approximation,
    |rel err| < 1.2e-9)."""
    if len(params) != 3:
        raise ValueError(
            "meanZTest takes (population_variance_x, "
            "population_variance_y, confidence_level) parameters"
        )
    if len(a) != 2:
        raise ValueError(
            "meanZTest(...)(x, sample_index) takes exactly two "
            "arguments"
        )
    v0, v1, conf = params
    x, i = a
    m0 = f"avg(CASE WHEN CAST({i} AS INT) = 0 THEN CAST({x} AS DOUBLE) END)"
    m1 = f"avg(CASE WHEN CAST({i} AS INT) <> 0 THEN CAST({x} AS DOUBLE) END)"
    n0 = f"CAST(count(CASE WHEN CAST({i} AS INT) = 0 THEN {x} END) AS DOUBLE)"
    n1 = f"CAST(count(CASE WHEN CAST({i} AS INT) <> 0 THEN {x} END) AS DOUBLE)"
    g = "greatest({}, CAST(1e-300 AS DOUBLE))"
    se = (
        f"sqrt(({v0}) / {g.format(n0)} + ({v1}) / {g.format(n1)})"
    )
    d = f"(({m0}) - ({m1}))"
    z = f"({d} / {g.format(f'({se})')})"
    zq = f"bh_norm_ppf(CAST((1 + ({conf})) / 2 AS DOUBLE))"
    ok = f"(({n0}) >= 1 AND ({n1}) >= 1)"
    nan = "CAST('NaN' AS DOUBLE)"
    p = (
        f"least(CAST(1 AS DOUBLE), greatest(CAST(0 AS DOUBLE), "
        f"bh_erfc(abs({z}) / sqrt(CAST(2 AS DOUBLE)))))"
    )
    return (
        f"named_struct("
        f"'z_statistic', IF({ok}, {z}, {nan}), "
        f"'p_value', IF({ok}, {p}, {nan}), "
        f"'confidence_interval_low', IF({ok}, {d} - {zq} * ({se}), "
        f"{nan}), "
        f"'confidence_interval_high', IF({ok}, {d} + {zq} * ({se}), "
        f"{nan}))"
    )


def _contingency_builder(stat: str):
    """cramersV / cramersVBiasCorrected / theilsU / contingency
    (x, y) — the categorical-association family from ONE pass:

    * joint cell counts: sorted collect of (x, y) as strings, then an
      O(n) index-fold emitting (x, y, count) at run boundaries
      (append-per-CELL, not per row — O(cells²) array copies bound by
      the category cardinality, the same in-memory contingency table
      CH's own implementations hold);
    * marginals as ``map_from_entries`` of boundary folds (x runs are
      contiguous in the (x,y) sort; y gets its own sorted collect);
    * every large sub-expression is bound ONCE via a single-element
      ``transform`` LET, so χ² / marginal-entropy consumers reference
      cheap struct fields instead of re-inlining the folds.

    χ² = Σ(c−e)²/e with e = row·col/n; contingency = √(χ²/(n+χ²));
    Cramér's V = √(χ²/(n·(min(r,c)−1))), bias-corrected per the
    published φ̃²/r̃/c̃ correction; Theil's U = (H(x) − H(x|y))/H(x)
    (log-base invariant). Degenerate inputs (n<2, a single category
    where the statistic is undefined) return NaN."""

    def build(a: list[str]) -> str:
        if len(a) != 2:
            raise ValueError(f"{stat}(x, y) takes exactly two arguments")
        jx = f"CAST({a[0]} AS STRING)"
        jy = f"CAST({a[1]} AS STRING)"
        # Pairwise deletion: a row with NULL in EITHER column is
        # skipped in both collects (a NULL key would also crash
        # map_from_entries with NULL_MAP_KEY).
        ok = f"({jx}) IS NOT NULL AND ({jy}) IS NOT NULL"
        J = (
            f"sort_array(collect_list(CASE WHEN {ok} THEN "
            f"named_struct('x', {jx}, 'y', {jy}) END))"
        )
        Y = (
            f"sort_array(collect_list(CASE WHEN {ok} THEN {jy} END))"
        )

        def runs_fold(arr: str, key_of: str, entry: str) -> str:
            """array → array of (key, count) at run boundaries.
            ``key_of`` extracts the run key from an element expr
            ``{e}``; ``entry`` renders the emitted struct given
            ``{k}`` (key expr) and ``{c}`` (count expr)."""
            prev = key_of.format(e=f"element_at({arr}, __i - 1)")
            cur = key_of.format(e=f"element_at({arr}, __i)")
            last = key_of.format(e=f"element_at({arr}, size({arr}))")
            first = key_of.format(e=f"element_at({arr}, 1)")
            empty = (
                f"slice(array({entry.format(k=first, c='CAST(0 AS DOUBLE)')}), 1, 0)"
            )
            return (
                f"aggregate(sequence(2, size({arr})), "
                f"named_struct('a', {empty}, 'c', CAST(1 AS DOUBLE)), "
                f"(__st, __i) -> IF(({cur}) <=> ({prev}), "
                f"named_struct('a', __st.a, 'c', __st.c + 1), "
                f"named_struct('a', concat(__st.a, "
                f"array({entry.format(k=prev, c='__st.c')})), "
                f"'c', CAST(1 AS DOUBLE))), "
                f"__st -> concat(__st.a, "
                f"array({entry.format(k=last, c='__st.c')})))"
            )

        # The sorted arrays must be LET-bound BEFORE any fold whose
        # lambda indexes into them: a `sort_array(collect_list(...))`
        # spelled inside a lambda re-sorts the whole array on every
        # fold step (O(n²·log n) — found the hard way).
        cells = runs_fold(
            "__s.j", "{e}",
            "named_struct('x', ({k}).x, 'y', ({k}).y, 'c', {c})",
        )
        rowm = (
            "map_from_entries("
            + runs_fold(
                "__s.j", "({e}).x", "named_struct('k', {k}, 'v', {c})"
            )
            + ")"
        )
        colm = (
            "map_from_entries("
            + runs_fold(
                "__s.ys", "{e}", "named_struct('k', {k}, 'v', {c})"
            )
            + ")"
        )
        # Bind the shared intermediates once (nested LETs: sorted
        # arrays first, then the folds computed from them).
        ctx = (
            f"named_struct('cells', {cells}, 'rowm', {rowm}, "
            f"'colm', {colm}, 'n', CAST(size(__s.j) AS DOUBLE))"
        )
        e_cell = (
            "(element_at(__t.rowm, __ce.x) * "
            "element_at(__t.colm, __ce.y) / __t.n)"
        )
        chi2 = (
            f"aggregate(__t.cells, CAST(0 AS DOUBLE), "
            f"(__x2, __ce) -> __x2 + pow(__ce.c - {e_cell}, 2) / "
            f"{e_cell})"
        )
        r = "CAST(size(__t.rowm) AS DOUBLE)"
        c = "CAST(size(__t.colm) AS DOUBLE)"
        nan = "CAST('NaN' AS DOUBLE)"
        if stat == "contingency":
            final = f"sqrt(({chi2}) / (__t.n + ({chi2})))"
        elif stat == "cramersV":
            final = (
                f"IF(least({r}, {c}) < 2, {nan}, "
                f"sqrt(({chi2}) / (__t.n * (least({r}, {c}) - 1))))"
            )
        elif stat == "cramersVBiasCorrected":
            phi2t = (
                f"greatest(CAST(0 AS DOUBLE), ({chi2}) / __t.n - "
                f"(({r}) - 1) * (({c}) - 1) / (__t.n - 1))"
            )
            rt = f"(({r}) - pow(({r}) - 1, 2) / (__t.n - 1))"
            ct = f"(({c}) - pow(({c}) - 1, 2) / (__t.n - 1))"
            final = (
                f"IF(least({rt}, {ct}) <= 1, {nan}, "
                f"sqrt(({phi2t}) / (least({rt}, {ct}) - 1)))"
            )
        elif stat == "theilsU":
            hx = (
                "aggregate(map_entries(__t.rowm), CAST(0 AS DOUBLE), "
                "(__h, __en) -> __h + (__en.value / __t.n) * "
                "log2(__t.n / __en.value))"
            )
            hxy = (
                "aggregate(__t.cells, CAST(0 AS DOUBLE), "
                "(__h, __ce) -> __h + (__ce.c / __t.n) * "
                "log2(element_at(__t.colm, __ce.y) / __ce.c))"
            )
            final = (
                f"IF(({hx}) = 0, {nan}, "
                f"((({hx}) - ({hxy})) / ({hx})))"
            )
        else:  # pragma: no cover - builder wired per name
            raise ValueError(stat)
        return (
            f"IF(size({J}) < 2, {nan}, "
            f"element_at(transform(array(named_struct("
            f"'j', {J}, 'ys', {Y})), "
            f"__s -> element_at(transform(array({ctx}), "
            f"__t -> ({final})), 1)), 1))"
        )

    return build


_TIME_DECAYED_KINDS = {
    "exponentialTimeDecayedSum": "sum",
    "exponentialTimeDecayedAvg": "avg",
    "exponentialTimeDecayedCount": "count",
    "exponentialTimeDecayedMax": "max",
}


def _scan_balanced(s: str, i: int) -> int:
    """``s[i]`` is '(' — return the index just past its match
    (quote-aware)."""
    depth, quote = 0, None
    while i < len(s):
        c = s[i]
        if quote:
            quote = None if c == quote else quote
        elif c in "'\"":
            quote = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    raise ValueError("unbalanced parentheses")


def _rewrite_time_decayed(out: str) -> str:
    """``exponentialTimeDecayed{Sum,Avg,Count,Max}(x)(args) OVER w`` —
    CH's time-decayed WINDOW functions: for each row, the frame's
    values weighted by exp((t_i − t_row)/x), anchored at the CURRENT
    ROW's time (CH semantics — rows later than the current row, in a
    FOLLOWING frame, weight ABOVE 1). Spark has no O(1)-state
    equivalent, so the frame is materialized with
    ``collect_list(...) OVER w`` and folded — O(frame) state per row
    (the array is LET-bound so the fold stays O(frame)). NULL rows
    are skipped; an all-NULL frame yields 0 (Sum/Avg/Count) or NULL
    (Max). Non-window use keeps a guided error naming
    ``exponentialMovingAverage`` (the supported aggregate)."""
    if "exponentialTimeDecayed" not in out:  # cheap gate (hot path)
        return out
    for name, kind in _TIME_DECAYED_KINDS.items():
        pos = 0
        while True:
            call = _find_call(out, name, pos)
            if call is None:
                break
            start, end, params = call
            m_args = re.match(r"\s*\(", out[end:])
            if not m_args or len(params) != 1:
                raise ValueError(
                    f"{name} takes one parameter and a window: "
                    f"{name}(x)(...) OVER (...); as a plain "
                    "aggregate use exponentialMovingAverage(h)(v, t)"
                )
            args_start = end + m_args.end() - 1
            args_end = _scan_balanced(out, args_start)
            args = _split_args_top(out[args_start + 1:args_end - 1])
            m_over = re.match(r"\s*OVER\b\s*", out[args_end:], re.I)
            if not m_over:
                raise ValueError(
                    f"{name} is a window function: append "
                    f"OVER (PARTITION BY ... ORDER BY ...); as a "
                    "plain aggregate use "
                    "exponentialMovingAverage(h)(v, t)"
                )
            w_start = args_end + m_over.end()
            if w_start < len(out) and out[w_start] == "(":
                w_end = _scan_balanced(out, w_start)
            else:  # named window reference
                m_name = re.match(r"\w+", out[w_start:])
                if m_name is None:
                    raise ValueError(
                        f"{name}: OVER must be followed by a "
                        "parenthesized window spec or a named window"
                    )
                w_end = w_start + m_name.end()
            window = out[w_start:w_end]
            x = params[0]
            if kind == "count":
                if len(args) != 1:
                    raise ValueError(f"{name}(x)(time) takes one argument")
                t_anchor = f"CAST({args[0]} AS DOUBLE)"
                coll = (
                    f"collect_list(CASE WHEN ({args[0]}) IS NOT NULL "
                    f"THEN CAST({args[0]} AS DOUBLE) END) OVER {window}"
                )
                fold = (
                    f"aggregate(__wa, CAST(0 AS DOUBLE), "
                    f"(__ac, __e) -> __ac + exp((__e - __tm) / ({x})))"
                )
            else:
                if len(args) != 2:
                    raise ValueError(
                        f"{name}(x)(value, time) takes two arguments"
                    )
                v, t = args
                t_anchor = f"CAST({t} AS DOUBLE)"
                coll = (
                    f"collect_list(CASE WHEN ({v}) IS NOT NULL AND "
                    f"({t}) IS NOT NULL THEN named_struct("
                    f"'v', CAST({v} AS DOUBLE), "
                    f"'t', CAST({t} AS DOUBLE)) END) OVER {window}"
                )
                if kind == "sum":
                    fold = (
                        f"aggregate(__wa, CAST(0 AS DOUBLE), "
                        f"(__ac, __e) -> __ac + __e.v * "
                        f"exp((__e.t - __tm) / ({x})))"
                    )
                elif kind == "max":
                    # NULL (not a -Inf sentinel) for an all-NULL frame.
                    fold = (
                        f"IF(size(__wa) = 0, CAST(NULL AS DOUBLE), "
                        f"aggregate(__wa, CAST('-Infinity' AS "
                        f"DOUBLE), (__ac, __e) -> greatest(__ac, "
                        f"__e.v * exp((__e.t - __tm) / ({x})))))"
                    )
                else:  # avg: decayed sum / decayed weight mass
                    wsum = (
                        f"aggregate(__wa, CAST(0 AS DOUBLE), "
                        f"(__ac, __e) -> __ac + "
                        f"exp((__e.t - __tm) / ({x})))"
                    )
                    fold = (
                        f"(aggregate(__wa, CAST(0 AS DOUBLE), "
                        f"(__ac, __e) -> __ac + __e.v * "
                        f"exp((__e.t - __tm) / ({x}))) / "
                        f"greatest({wsum}, CAST(1e-300 AS DOUBLE)))"
                    )
            # Anchor = the CURRENT ROW's time (CH semantics), a plain
            # column expression — not the frame max.
            repl = (
                f"element_at(transform(array({coll}), __wa -> "
                f"element_at(transform(array({t_anchor}), __tm -> "
                f"({fold})), 1)), 1)"
            )
            out = out[:start] + repl + out[w_end:]
            pos = start + len(repl)
    return out


def _proportions_z_builder(a: list[str]) -> str:
    """proportionsZTest(successes_x, successes_y, trials_x, trials_y,
    confidence_level, usevar) → (z_statistic, p_value,
    confidence_interval_low, confidence_interval_high) — a pure
    closed-form SCALAR (no aggregation): usevar 'pooled' uses the
    combined proportion's variance for z; 'unpooled' the per-sample
    variances. The CI on p1−p2 uses the unpooled standard error (the
    standard construction) with the Acklam inverse-normal quantile.
    Denominators floor-guarded (ANSI + eager-UDF extraction, same as
    the other stats builders)."""
    if len(a) != 6:
        raise ValueError(
            "proportionsZTest takes exactly (successes_x, "
            "successes_y, trials_x, trials_y, confidence_level, "
            "usevar)"
        )
    sx, sy, tx, ty, conf, usevar = a
    uv = usevar.strip().strip("'\"").lower()
    if uv not in ("pooled", "unpooled"):
        raise ValueError(
            f"proportionsZTest: usevar {usevar} must be 'pooled' or "
            "'unpooled'"
        )
    g = "greatest({}, CAST(1e-300 AS DOUBLE))"
    txd = f"CAST({tx} AS DOUBLE)"
    tyd = f"CAST({ty} AS DOUBLE)"
    p1 = f"(CAST({sx} AS DOUBLE) / {g.format(txd)})"
    p2 = f"(CAST({sy} AS DOUBLE) / {g.format(tyd)})"
    se_unpooled = (
        f"sqrt({p1} * (1 - {p1}) / {g.format(txd)} + "
        f"{p2} * (1 - {p2}) / {g.format(tyd)})"
    )
    if uv == "pooled":
        pp = (
            f"((CAST({sx} AS DOUBLE) + CAST({sy} AS DOUBLE)) / "
            f"{g.format(f'({txd} + {tyd})')})"
        )
        se_z = (
            f"sqrt({pp} * (1 - {pp}) * "
            f"(1 / {g.format(txd)} + 1 / {g.format(tyd)}))"
        )
    else:
        se_z = se_unpooled
    d = f"({p1} - {p2})"
    z = f"({d} / {g.format(f'({se_z})')})"
    p = (
        f"least(CAST(1 AS DOUBLE), greatest(CAST(0 AS DOUBLE), "
        f"bh_erfc(abs({z}) / sqrt(CAST(2 AS DOUBLE)))))"
    )
    zq = f"bh_norm_ppf(CAST((1 + ({conf})) / 2 AS DOUBLE))"
    ok = f"({txd} > 0 AND {tyd} > 0)"
    nan = "CAST('NaN' AS DOUBLE)"
    return (
        f"named_struct("
        f"'z_statistic', IF({ok}, {z}, {nan}), "
        f"'p_value', IF({ok}, {p}, {nan}), "
        f"'confidence_interval_low', IF({ok}, "
        f"{d} - {zq} * ({se_unpooled}), {nan}), "
        f"'confidence_interval_high', IF({ok}, "
        f"{d} + {zq} * ({se_unpooled}), {nan}))"
    )


def _min_sample_size_builder(kind: str, a: list[str]) -> str:
    """minSampleSizeConversion(baseline, mde, power, alpha) /
    minSampleSizeContinous|Continuous(baseline, sigma, mde, power,
    alpha) → ``(minimum_sample_size, detect_range_lower,
    detect_range_upper)``.

    The published A/B power-analysis closed forms (CH docs cite the
    same derivation): with z_α = Φ⁻¹(1 − α/2) and z_β = Φ⁻¹(power),
      conversion: n = (z_α + z_β)² · (p1(1−p1) + p2(1−p2)) / mde²
        with p1 = baseline, p2 = baseline + mde; detectable range
        baseline ± mde.
      continuous: mde is RELATIVE to the mean: n = (z_α + z_β)² ·
        2σ² / (baseline·mde)²; detectable range baseline·(1 ± mde).
    Pure row-wise scalar expression over ``bh_norm_ppf`` (Acklam
    probit); degenerate inputs (mde ≤ 0, α/power outside (0,1))
    propagate NaN from the quantile / division guards."""
    if kind == "conversion":
        if len(a) != 4:
            raise ValueError(
                "minSampleSizeConversion(baseline, mde, power, "
                "alpha) takes exactly four arguments"
            )
        base, mde, power, alpha = (
            f"CAST({x} AS DOUBLE)" for x in a
        )
    else:
        if len(a) != 5:
            raise ValueError(
                "minSampleSizeContinous(baseline, sigma, mde, "
                "power, alpha) takes exactly five arguments"
            )
        base, sigma, mde, power, alpha = (
            f"CAST({x} AS DOUBLE)" for x in a
        )
    zsum = (
        f"(bh_norm_ppf(1 - ({alpha}) / 2) + bh_norm_ppf({power}))"
    )
    nan = "CAST('NaN' AS DOUBLE)"
    if kind == "conversion":
        p1, p2 = base, f"(({base}) + ({mde}))"
        n = (
            f"({zsum} * {zsum} * "
            f"({p1} * (1 - {p1}) + {p2} * (1 - {p2})) / "
            f"(({mde}) * ({mde})))"
        )
        lo, hi = f"(({base}) - ({mde}))", f"(({base}) + ({mde}))"
    else:
        n = (
            f"({zsum} * {zsum} * 2 * ({sigma}) * ({sigma}) / "
            f"((({base}) * ({mde})) * (({base}) * ({mde}))))"
        )
        lo = f"(({base}) * (1 - ({mde})))"
        hi = f"(({base}) * (1 + ({mde})))"
    ok = f"(({mde}) > 0)"
    if kind != "conversion":
        # baseline·mde is the denominator — a zero baseline would
        # DIVIDE_BY_ZERO inside the taken branch (ANSI raises for
        # doubles too).
        ok = f"(({mde}) > 0 AND ({base}) <> 0)"
    return (
        f"named_struct("
        f"'minimum_sample_size', IF({ok}, {n}, {nan}), "
        f"'detect_range_lower', IF({ok}, {lo}, {nan}), "
        f"'detect_range_upper', IF({ok}, {hi}, {nan}))"
    )


def _sum_arg_builder(name: str, ext: str, a: list[str]) -> str:
    """sumArgMin/sumArgMax(x, k) → Σ x over the rows whose k equals
    the group's min/max k (ALL tied rows sum, which is why plain
    ``min_by``/``max_by`` — single-row winners — don't express it).

    One collected fold, all JVM-side: collect (k, x) pairs (NULL in
    either side skips the row, CH aggregate semantics), LET-bind the
    array, take the extreme of k, then a single O(n) fold summing the
    matching x's. The accumulator keeps the INPUT's numeric family
    (integer sums stay integral — no silent double widening; ANSI
    overflow raises, same as Spark's own sum). Two type traps, both
    found by review and regression-tested:

    * The typed zero is ``IF(size(arr)=0, get(arr,0).x, 0)`` — a
      LITERAL 0 coerced to x's type, never ``x − x`` (which is NaN
      when the first collected x is NaN/±Inf, poisoning every
      non-matching fold step).
    * DECIMAL addition grows precision per step (p,s)+(p,s)→(p+1,s),
      so a naive init makes the fold accumulator type unstable and
      Catalyst rejects the lambda. The init SATURATES the precision
      first: a 38-term ``z+z+…+z`` chain caps any decimal at
      DECIMAL(38,s) — its own fixpoint under addition — while
      int/bigint/double pass through unchanged (their addition is
      type-stable already).

    Empty/all-NULL groups yield NULL (Spark sum convention)."""
    if len(a) != 2:
        raise ValueError(f"{name}(x, k) takes exactly two arguments")
    x, k = a
    arr = (
        f"collect_list(CASE WHEN ({x}) IS NOT NULL AND "
        f"({k}) IS NOT NULL THEN named_struct("
        f"'k', ({k}), 'x', ({x})) END)"
    )
    km = f"array_{ext}(transform(__bsa, __e -> __e.k))"
    zero0 = "IF(size(__bsa) = 0, get(__bsa, 0).x, 0)"
    init = "(" + " + ".join(["__bz"] * 38) + ")"
    fold = (
        f"aggregate(__bsa, {init}, (__ac, __e) -> "
        f"__ac + IF(__e.k <=> __bkm, __e.x, 0))"
    )
    return (
        f"element_at(transform(array({arr}), __bsa -> "
        f"element_at(transform(array({km}), __bkm -> "
        f"element_at(transform(array({zero0}), __bz -> ({fold})), "
        f"1)), 1)), 1)"
    )


def _civ_builder(a: list[str]) -> str:
    """categoricalInformationValue(cat1, …, catN, tag) →
    Array(Float64): per category column, the information value
    IV = Σ_x (p1(x) − p0(x)) · ln(p1(x)/p0(x)) with
    p_t(x) = count(cat=x, tag=t)/count(tag=t). One sorted collect of
    (value, tag) per column, one O(n) boundary fold accumulating the
    per-value (c0, c1) pair (LET-bound array — see
    ``_contingency_builder``). Zero-cell convention: a value absent
    from either class contributes 0 (the ln would be ±∞; documented
    smoothing-free choice)."""
    if len(a) < 2:
        raise ValueError(
            "categoricalInformationValue(cat1, ..., catN, tag) needs "
            "at least one category column and the 0/1 tag"
        )
    tag = a[-1]
    # Rows with NULL in ANY argument are skipped — CH aggregate
    # semantics, the same policy as the contingency family (a NULL
    # tag would otherwise silently count as tag 0, and a NULL
    # category would become its own IV bucket).
    ok = " AND ".join(f"({arg}) IS NOT NULL" for arg in a)
    n1 = (
        f"sum(CAST(CASE WHEN {ok} AND "
        f"CAST({tag} AS INT) <> 0 THEN 1 ELSE 0 END AS DOUBLE))"
    )
    n0 = (
        f"sum(CAST(CASE WHEN {ok} AND CAST({tag} AS INT) = 0 "
        f"THEN 1 ELSE 0 END AS DOUBLE))"
    )
    term = (
        "IF(__acc.c0 = 0 OR __acc.c1 = 0, CAST(0 AS DOUBLE), "
        "(__acc.c1 / ({n1}) - __acc.c0 / ({n0})) * "
        "ln((__acc.c1 * ({n0})) / (__acc.c0 * ({n1}))))"
    ).format(n0=n0, n1=n1)
    ivs = []
    for cat in a[:-1]:
        arr = (
            f"sort_array(collect_list(CASE WHEN {ok} "
            f"THEN named_struct('v', CAST({cat} AS STRING), "
            f"'t', CAST({tag} AS INT)) END))"
        )
        inc0 = "IF(element_at(__ca, __i).t = 0, 1, 0)"
        inc1 = "IF(element_at(__ca, __i).t <> 0, 1, 0)"
        first0 = "IF(element_at(__ca, 1).t = 0, 1, 0)"
        first1 = "IF(element_at(__ca, 1).t <> 0, 1, 0)"
        fold = (
            f"aggregate(sequence(2, size(__ca)), "
            f"named_struct('iv', CAST(0 AS DOUBLE), "
            f"'c0', CAST({first0} AS DOUBLE), "
            f"'c1', CAST({first1} AS DOUBLE)), "
            f"(__acc, __i) -> IF(element_at(__ca, __i).v <=> "
            f"element_at(__ca, __i - 1).v, "
            f"named_struct('iv', __acc.iv, "
            f"'c0', __acc.c0 + {inc0}, 'c1', __acc.c1 + {inc1}), "
            f"named_struct('iv', __acc.iv + {term}, "
            f"'c0', CAST({inc0} AS DOUBLE), "
            f"'c1', CAST({inc1} AS DOUBLE))), "
            f"__acc -> __acc.iv + {term})"
        )
        ivs.append(
            f"CASE WHEN size({arr}) < 2 THEN CAST('NaN' AS DOUBLE) "
            f"ELSE element_at(transform(array({arr}), "
            f"__ca -> ({fold})), 1) END"
        )
    return f"array({', '.join(ivs)})"


def _entropy_builder(a: list[str]) -> str:
    """entropy(x) → Shannon entropy (log2) of the value distribution:
    one sorted collect, one O(n) index-fold accumulating
    (c/n)·log2(n/c) at run boundaries. Index-based comparison
    (``element_at(arr, i) <=> element_at(arr, i-1)``) keeps the fold
    type-agnostic — no prev-value field whose type we'd have to guess
    at transpile time. Same group-state caveat as every
    collect-based aggregate."""
    if len(a) != 1:
        raise ValueError("entropy(x) takes exactly one argument")
    arr = f"sort_array(collect_list({a[0]}))"
    # The sorted array is LET-bound (__ea): indexing it inside the
    # fold lambda must hit an attribute, not re-sort per element.
    n = "CAST(size(__ea) AS DOUBLE)"
    f_run = "((__acc.c / {n}) * log2({n} / __acc.c))".format(n=n)
    fold = (
        f"aggregate(sequence(2, size(__ea)), "
        f"named_struct('c', CAST(1 AS DOUBLE), 'h', CAST(0 AS "
        f"DOUBLE)), "
        f"(__acc, __i) -> IF(element_at(__ea, __i) <=> "
        f"element_at(__ea, __i - 1), "
        f"named_struct('c', __acc.c + 1, 'h', __acc.h), "
        f"named_struct('c', CAST(1 AS DOUBLE), "
        f"'h', __acc.h + {f_run})), "
        f"__acc -> __acc.h + {f_run})"
    )
    return (
        f"CASE WHEN size({arr}) <= 1 THEN CAST(0 AS DOUBLE) "
        f"ELSE element_at(transform(array({arr}), "
        f"__ea -> ({fold})), 1) END"
    )


_SPARKBAR_GLYPHS = "▁▂▃▄▅▆▇█"


def _sparkbar_builder(params: list[str], a: list[str]) -> str:
    """sparkbar(width[, min_x, max_x])(x, y) → a ``width``-character
    bar string: the x window splits into ``width`` equal buckets, y
    sums per bucket, and each bucket renders one of the eight block
    glyphs ▁▂▃▄▅▆▇█ scaled against the tallest bucket — empty or
    non-positive buckets render a space, matching the shape of CH's
    documented example ('▂▅▂▃▆█  ▂'). min_x/max_x default to the
    group's min/max; out-of-window values are ignored
    (AggregateFunctionSparkbar semantics). Bucketing uses
    floor((x − min) · width / (max − min + 1)) — uniform over
    integer-valued x such as toUnixTimestamp/day numbers; glyph
    rounding is ceil(8·s/max), capability-level vs CH 23.6's
    renderer (deviation listed in COVERAGE.md). x may be numeric,
    Date (bucketed by day number, CH's own unit) or timestamp
    (epoch seconds): the typeof CASE keeps every arm analysis-valid
    for every input type via the string hop — a direct
    CAST(date AS DOUBLE) is an ANSI analysis error even in an
    unreached branch (round-11 sweep)."""
    if len(params) not in (1, 3):
        raise ValueError(
            "sparkbar(width) or sparkbar(width, min_x, max_x)"
        )
    try:
        w = int(_unquote(params[0].strip()))
    except ValueError:
        raise ValueError(
            "sparkbar: width must be a literal integer"
        ) from None
    if not 1 <= w <= 1024:
        raise ValueError(
            "sparkbar: width must be in [1, 1024] (ClickHouse's own "
            "limit)"
        )
    if len(a) != 2:
        raise ValueError("sparkbar(width)(x, y) takes two arguments")
    x, y = a

    def norm_x(e: str) -> str:
        # unix_date, not datediff: the builder's output flows back
        # through the dialect rewrites, and datediff() would be
        # re-parsed as CH's 3-argument dateDiff.
        return (
            f"CASE WHEN typeof({e}) = 'date' THEN "
            f"CAST(unix_date(CAST(CAST({e} AS STRING) AS DATE)) "
            f"AS DOUBLE) "
            f"WHEN typeof({e}) LIKE 'timestamp%' THEN "
            f"CAST(CAST(CAST({e} AS STRING) AS TIMESTAMP) AS DOUBLE) "
            f"ELSE CAST(CAST({e} AS STRING) AS DOUBLE) END"
        )

    xe = norm_x(x)
    ye = f"CAST({y} AS DOUBLE)"
    # The implicit window skips rows any of whose ARGUMENTS is NULL
    # (CH aggregates never see them), so a NULL-y row must not
    # stretch min/max either.
    seen_x = f"CASE WHEN ({y}) IS NOT NULL THEN {xe} END"
    mn = (
        norm_x(params[1])
        if len(params) == 3
        else f"CAST(min({seen_x}) AS DOUBLE)"
    )
    mx = (
        norm_x(params[2])
        if len(params) == 3
        else f"CAST(max({seen_x}) AS DOUBLE)"
    )
    entries = (
        f"collect_list(CASE WHEN ({x}) IS NOT NULL AND "
        f"({y}) IS NOT NULL THEN named_struct('x', {xe}, 'y', {ye}) "
        f"END)"
    )
    idx = (
        f"CAST(least(floor((__e.x - ({mn})) * {w} / "
        f"(({mx}) - ({mn}) + 1)), {w - 1}) AS INT)"
    )
    sums = (
        f"aggregate({entries}, array_repeat(0D, {w}), "
        f"(__acc, __e) -> IF(__e.x >= ({mn}) AND __e.x <= ({mx}), "
        f"transform(__acc, (__v, __i) -> "
        f"IF(__i = {idx}, __v + __e.y, __v)), __acc))"
    )
    glyphs = ", ".join(f"'{g}'" for g in _SPARKBAR_GLYPHS)
    render = (
        f"concat_ws('', transform(__ss, __s -> IF(__s <= 0, ' ', "
        f"element_at(array({glyphs}), CAST(least(8, greatest(1, "
        f"ceiling(__s * 8 / array_max(__ss)))) AS INT)))))"
    )
    # bind the bucket sums once (__ss) via the single-element
    # transform LET idiom; an empty group renders '' for BOTH window
    # forms (the explicit min/max are never NULL, so gate on the
    # collected entries too).
    return (
        f"CASE WHEN size({entries}) = 0 OR ({mn}) IS NULL "
        f"OR ({mx}) IS NULL THEN '' "
        f"ELSE element_at(transform(array({sums}), "
        f"__ss -> {render}), 1) END"
    )


def _lttb_builder(params: list[str], a: list[str]) -> str:
    """largestTriangleThreeBuckets(n)(x, y) → Array(Tuple(x, y)) —
    the published LTTB downsampling algorithm as one O(N) expression:
    sorted collect, then a fold over the n−2 middle buckets where
    each step binds (previous selected point, next bucket's average)
    once via a single-element ``transform`` (a LET — keeps the
    per-bucket argmax O(bucket), not O(bucket²)) and appends the
    max-triangle-area point. First/last points always kept; n ≥ N
    returns every point, n ≤ 2 degenerates to first/last."""
    if len(params) != 1:
        raise ValueError(
            "largestTriangleThreeBuckets takes exactly one parameter "
            "(the output point count)"
        )
    if len(a) != 2:
        raise ValueError(
            "largestTriangleThreeBuckets(n)(x, y) takes exactly two "
            "arguments"
        )
    n = f"CAST({params[0]} AS INT)"
    arr = (
        f"sort_array(collect_list(named_struct("
        f"'x', CAST({a[0]} AS DOUBLE), 'y', CAST({a[1]} AS DOUBLE))))"
    )
    nn = "size(__la)"
    every = f"((CAST({nn} AS DOUBLE) - 2) / ({n} - 2))"
    # Bucket i of the fold covers 1-based arr indices
    # [2+floor(i·every), 2+floor((i+1)·every)); the "next" range ends
    # at min(2+floor((i+2)·every), N+1) so the final bucket's next is
    # exactly the last point.
    bs = f"CAST(2 + floor(CAST(__i AS DOUBLE) * {every}) AS INT)"
    be = f"CAST(2 + floor((CAST(__i AS DOUBLE) + 1) * {every}) AS INT)"
    ns = be
    ne = (
        f"CAST(least(2 + floor((CAST(__i AS DOUBLE) + 2) * {every}), "
        f"CAST({nn} AS DOUBLE) + 1) AS INT)"
    )
    cavg = (
        f"aggregate(slice({arr}, {ns}, {ne} - {ns}), "
        f"named_struct('sx', CAST(0 AS DOUBLE), 'sy', CAST(0 AS "
        f"DOUBLE), 'c', CAST(0 AS DOUBLE)), "
        f"(__s3, __q) -> named_struct('sx', __s3.sx + __q.x, "
        f"'sy', __s3.sy + __q.y, 'c', __s3.c + 1), "
        f"__s3 -> named_struct('x', __s3.sx / __s3.c, "
        f"'y', __s3.sy / __s3.c))"
    )
    area = (
        "abs((__ctx.pa.x - __ctx.pc.x) * (__p.y - __ctx.pa.y) - "
        "(__ctx.pa.x - __p.x) * (__ctx.pc.y - __ctx.pa.y))"
    )
    argmax = (
        f"aggregate(slice({arr}, {bs}, {be} - {bs}), "
        f"named_struct('x', CAST(0 AS DOUBLE), 'y', CAST(0 AS "
        f"DOUBLE), 'ar', CAST(-1 AS DOUBLE)), "
        f"(__ba, __p) -> IF({area} > __ba.ar, "
        f"named_struct('x', __p.x, 'y', __p.y, 'ar', {area}), __ba), "
        f"__ba -> named_struct('x', __ba.x, 'y', __ba.y))"
    )
    merge = (
        f"(__sel, __i) -> concat(__sel, array(element_at("
        f"transform(array(named_struct('pa', element_at(__sel, -1), "
        f"'pc', {cavg})), __ctx -> {argmax}), 1)))"
    )
    fold = (
        f"aggregate(sequence(0, {n} - 3), "
        f"array(element_at(__la, 1)), "
        f"{merge}, "
        f"__sel -> concat(__sel, array(element_at(__la, {nn}))))"
    )
    outer_nn = f"size({arr})"
    return (
        f"IF({outer_nn} <= {n}, {arr}, "
        f"CASE WHEN {n} <= 0 THEN slice({arr}, 1, 0) "
        f"WHEN {n} = 1 THEN slice({arr}, 1, 1) "
        f"WHEN {n} = 2 THEN array(element_at({arr}, 1), "
        f"element_at({arr}, {outer_nn})) "
        f"ELSE element_at(transform(array({arr}), "
        f"__la -> ({fold})), 1) END)"
    )


def _ecr_builder(params: list[str], a: list[str]) -> str:
    """estimateCompressionRatio([codec[, block_size]])(x) — see the
    plain-name mapping; codec validation lives here."""
    if len(a) != 1:
        raise ValueError(
            "estimateCompressionRatio([codec])(x) takes exactly one "
            "column argument"
        )
    codec = params[0].strip("'\" ").lower() if params else "lz4"
    if codec in ("lz4", "lz4hc"):
        return f"bh_lz4_ratio({a[0]})"
    if codec == "none":
        return "CAST(1.0 AS DOUBLE)"
    raise ValueError(
        f"estimateCompressionRatio: codec {codec!r} is not available "
        "in this build; use 'lz4' (the wire codec) or 'none'"
    )


def _sequence_next_node_builder(p: list[str], a: list[str]) -> str:
    """sequenceNextNode(direction, base)(timestamp, event_column,
    base_condition, event1[, event2, ...]) → the event_column value of
    the event immediately AFTER the matched chain (NULL when the chain
    does not match), per the public CH signature.

    Shape: one sorted collect (CH buffers the group identically), the
    array let-bound ONCE via ``transform(array(...), __a -> ...)`` so
    the aggregate is evaluated a single time, then pure index
    arithmetic — base point 1/size for head/tail, first/last position
    of ``base ∧ event1`` for first_match/last_match (first_match
    follows the scan direction: walking backward, the first match is
    the largest index). ANSI-safe: ``try_element_at`` + explicit
    lower-bound guards (negative indexes would otherwise wrap to
    from-the-end semantics)."""
    if len(p) != 2:
        raise ValueError(
            "sequenceNextNode takes exactly two parameters: "
            "(direction, base)"
        )
    direction = p[0].strip("'\" ").lower()
    base = p[1].strip("'\" ").lower()
    if direction not in ("forward", "backward"):
        raise ValueError(
            f"sequenceNextNode: direction {p[0]} is not "
            "'forward'/'backward'"
        )
    if base not in ("head", "tail", "first_match", "last_match"):
        raise ValueError(
            f"sequenceNextNode: base {p[1]} is not one of "
            "head/tail/first_match/last_match"
        )
    if base == "head" and direction != "forward":
        raise ValueError(
            "sequenceNextNode: base 'head' requires direction "
            "'forward' (CH enforces the same pairing)"
        )
    if base == "tail" and direction != "backward":
        raise ValueError(
            "sequenceNextNode: base 'tail' requires direction "
            "'backward' (CH enforces the same pairing)"
        )
    if len(a) < 4:
        raise ValueError(
            "sequenceNextNode(direction, base)(timestamp, "
            "event_column, base_condition, event1[, ...]) needs at "
            "least four arguments"
        )
    ts, val, bcond = a[0], a[1], a[2]
    events = a[3:]
    n_ev = len(events)
    step = 1 if direction == "forward" else -1
    fields = [
        f"'t', {ts}",
        f"'v', CAST({val} AS STRING)",
        f"'b', coalesce(CAST({bcond} AS BOOLEAN), false)",
    ]
    for k, e in enumerate(events, 1):
        fields.append(f"'e{k}', coalesce(CAST({e} AS BOOLEAN), false)")
    arr = (
        f"array_sort(collect_list(CASE WHEN ({ts}) IS NOT NULL THEN "
        f"named_struct({', '.join(fields)}) END))"
    )
    if base == "head":
        pos = "1"
    elif base == "tail":
        pos = "size(__a)"
    else:
        flags = "transform(__a, __x -> __x.b AND __x.e1)"
        first = f"array_position({flags}, true)"
        last = (
            f"IF(array_position(reverse({flags}), true) = 0, 0, "
            f"size(__a) + 1 - array_position(reverse({flags}), true))"
        )
        if (base == "first_match") == (direction == "forward"):
            pos = first
        else:
            pos = last
    checks = [
        "__p > 0",
        "coalesce(try_element_at(__a, __p).b, false)",
        "coalesce(try_element_at(__a, __p).e1, false)",
    ]
    for k in range(2, n_ev + 1):
        checks.append(
            f"coalesce(try_element_at(__a, "
            f"CAST(__p + {step * (k - 1)} AS INT)).e{k}, false)"
        )
    if step < 0:
        # backward indexes must stay >= 1, else try_element_at's
        # negative-index from-the-end semantics would false-match
        checks.append(f"__p - {n_ev} >= 1")
    res_idx = f"CAST(__p + {step * n_ev} AS INT)"
    inner = (
        f"CASE WHEN {' AND '.join(checks)} "
        f"THEN try_element_at(__a, {res_idx}).v ELSE NULL END"
    )
    let_p = (
        f"element_at(transform(array(CAST({pos} AS INT)), "
        f"__p -> {inner}), 1)"
    )
    return f"element_at(transform(array({arr}), __a -> {let_p}), 1)"


def _mwu_builder(a: list[str], params: list[str] | None = None) -> str:
    """mannWhitneyUTest([alternative[, continuity]])(x, sample_idx) →
    ``(u_statistic, p_value)``.

    Same shape as ``_ks_test_builder``: one sorted collect, one O(n)
    fold over the pooled order computing tie-run average ranks (a run
    of length t at positions [s, s+t-1] contributes avg rank
    s+(t-1)/2 to each member) plus the tie term Σ(t³−t). Then
    U₀ = R₀ − n₀(n₀+1)/2, u = min(U₀, U₁) (the two-sided statistic),
    and the large-sample normal approximation with tie-corrected
    variance and 0.5 continuity correction (disable by passing
    continuity=0) — p = erfc((μ−u−cc)/√(2σ²)), the standard method;
    small-sample exact enumeration is refused with guidance."""
    if len(a) != 2:
        raise ValueError(
            "mannWhitneyUTest(x, sample_index) takes exactly two "
            "arguments (sample_index 0/1)"
        )
    cc = "0.5"
    if params:
        alt = params[0].strip("'\" ").lower()
        if alt not in ("two-sided", "twosided"):
            raise ValueError(
                f"mannWhitneyUTest: alternative {params[0]} is not "
                "supported; only 'two-sided' is implemented"
            )
        if len(params) > 1:
            cc_raw = params[1].strip("'\" ").lower()
            try:  # any numeric zero spelling ('0', '0.0') disables
                cc = "0.0" if float(cc_raw) == 0 else "0.5"
            except ValueError:
                cc = "0.0" if cc_raw == "false" else "0.5"
    # NULL rows (value or index) are skipped — CH aggregate
    # semantics; a NULL v would otherwise sort first and merge into
    # the smallest real value's tie run (prev IS NULL doubles as the
    # first-element sentinel).
    arr = (
        f"sort_array(collect_list(CASE WHEN ({a[0]}) IS NOT NULL "
        f"AND ({a[1]}) IS NOT NULL THEN named_struct("
        f"'v', CAST({a[0]} AS DOUBLE), 'i', CAST({a[1]} AS INT)) "
        f"END))"
    )
    n0 = (
        f"sum(CAST(CASE WHEN ({a[0]}) IS NOT NULL AND "
        f"CAST({a[1]} AS INT) = 0 THEN 1 ELSE 0 END AS DOUBLE))"
    )
    n1 = (
        f"sum(CAST(CASE WHEN ({a[0]}) IS NOT NULL AND "
        f"CAST({a[1]} AS INT) <> 0 THEN 1 ELSE 0 END AS DOUBLE))"
    )
    commit_r0 = (
        "__acc.r0 + __acc.run_n0 * "
        "(__acc.idx - (__acc.run_n - 1) / 2)"
    )
    commit_ties = "__acc.ties + pow(__acc.run_n, 3) - __acc.run_n"
    fold = (
        f"aggregate({arr}, "
        f"named_struct('idx', CAST(0 AS DOUBLE), 'run_n', CAST(0 AS "
        f"DOUBLE), 'run_n0', CAST(0 AS DOUBLE), 'r0', CAST(0 AS "
        f"DOUBLE), 'ties', CAST(0 AS DOUBLE), 'prev', CAST(NULL AS "
        f"DOUBLE)), "
        f"(__acc, __e) -> IF(__acc.prev IS NULL OR __e.v = __acc.prev, "
        f"named_struct("
        f"'idx', CAST(__acc.idx + 1 AS DOUBLE), "
        f"'run_n', CAST(__acc.run_n + 1 AS DOUBLE), "
        f"'run_n0', CAST(__acc.run_n0 + IF(__e.i = 0, 1, 0) AS "
        f"DOUBLE), "
        f"'r0', CAST(__acc.r0 AS DOUBLE), "
        f"'ties', CAST(__acc.ties AS DOUBLE), "
        f"'prev', CAST(__e.v AS DOUBLE)), "
        f"named_struct("
        f"'idx', CAST(__acc.idx + 1 AS DOUBLE), "
        f"'run_n', CAST(1 AS DOUBLE), "
        f"'run_n0', CAST(IF(__e.i = 0, 1, 0) AS DOUBLE), "
        f"'r0', CAST({commit_r0} AS DOUBLE), "
        f"'ties', CAST({commit_ties} AS DOUBLE), "
        f"'prev', CAST(__e.v AS DOUBLE))), "
        f"__acc -> named_struct("
        f"'r0', CAST({commit_r0} AS DOUBLE), "
        f"'ties', CAST({commit_ties} AS DOUBLE)))"
    )
    u0 = f"(({fold}).r0 - ({n0}) * (({n0}) + 1) / 2)"
    u = f"least({u0}, ({n0}) * ({n1}) - {u0})"
    nt = f"(({n0}) + ({n1}))"
    sigma2 = (
        f"(({n0}) * ({n1}) / 12) * (({nt} + 1) - "
        f"({fold}).ties / greatest({nt} * ({nt} - 1), "
        f"CAST(1e-300 AS DOUBLE)))"
    )
    # NB: bh_erfc is a pandas UDF — Spark extracts Python UDFs into
    # an eager projection, so an IF around the call does NOT guard
    # its argument from DIVIDE_BY_ZERO; the denominator itself must
    # be safe (greatest with a tiny floor), with the outer IF still
    # picking p=1 for the degenerate all-tied/under-2-sample cases.
    p = (
        f"IF({nt} < 2 OR ({sigma2}) <= 0, CAST(1 AS DOUBLE), "
        f"least(CAST(1 AS DOUBLE), greatest(CAST(0 AS DOUBLE), "
        f"bh_erfc(((({n0}) * ({n1}) / 2) - ({u}) - {cc}) / "
        f"sqrt(2 * greatest(({sigma2}), CAST(1e-300 AS DOUBLE)))))))"
    )
    return f"named_struct('u_statistic', ({u}), 'p_value', ({p}))"


def _byte_size_builder(a: list[str]) -> str:
    """byteSize(x) → the ENGINE's per-value storage width (Spark
    widths — CH widths differ where the engine widens: Date is 4
    here vs CH's 2; documented divergence). Strings/blobs follow the
    CH convention length + 9; Decimal maps precision → 4/8/16 bytes
    (Decimal32/64/128). Composite types raise a guided error. The
    type dispatch is ``typeof()``-driven so one spelling covers every
    scalar column without transpile-time schema access."""
    if len(a) != 1:
        raise ValueError("byteSize(x) takes exactly one argument")
    x = a[0]
    t = f"typeof({x})"
    prec = f"CAST(regexp_extract({t}, 'decimal\\\\((\\\\d+)', 1) AS INT)"
    return (
        f"CAST(CASE "
        f"WHEN {t} IN ('tinyint', 'boolean') THEN 1 "
        f"WHEN {t} = 'smallint' THEN 2 "
        f"WHEN {t} IN ('int', 'float', 'date') THEN 4 "
        f"WHEN {t} IN ('bigint', 'double', 'timestamp', "
        f"'timestamp_ntz') THEN 8 "
        # CAST AS STRING is identity for the strings/blobs that can
        # reach this branch (the typeof gate) but keeps ANALYSIS
        # valid for composite types so they fall through to the
        # guided raise_error instead of an opaque octet_length
        # mismatch.
        f"WHEN {t} IN ('string', 'binary') THEN "
        f"octet_length(CAST({x} AS STRING)) + 9 "
        f"WHEN {t} LIKE 'decimal%' THEN "
        f"CASE WHEN {prec} <= 9 THEN 4 WHEN {prec} <= 18 THEN 8 "
        f"ELSE 16 END "
        # NB: the message must not spell the function name with a
        # paren — the rewrite loop would re-match it inside the
        # string literal (same trap as the _ARG_REWRITES case-variant
        # gotcha).
        f"ELSE raise_error(concat('byte size unsupported for type ', "
        f"{t}, ' — composite types need per-field expansion')) "
        f"END AS BIGINT)"
    )


def _struct_literal_fields(s: str) -> list[str] | None:
    """Field expressions of an inline tuple spelling — ``struct(...)``
    (what ``tuple()`` transpiles to) or a bare parenthesized list —
    else None (column-typed tuples can't expand at string level)."""
    s = s.strip()
    for head in ("struct(", "tuple("):  # pre- and post-rewrite forms
        if s.lower().startswith(head) and s.endswith(")"):
            return _split_args_top(s[len(head):-1])
    if s.startswith("(") and s.endswith(")"):
        parts = _split_args_top(s[1:-1])
        return parts if len(parts) > 1 else None
    return None


def _dot_product_builder(a: list[str]) -> str:
    """dotProduct/scalarProduct: Array columns get the zip_with fold;
    INLINE tuple spellings (CH's tuple overload) expand field-wise —
    a struct is not iterable in Spark expressions, so the array path
    fails analysis on tuples."""
    if len(a) != 2:
        raise ValueError("dotProduct(a, b) takes two arguments")
    f1 = _struct_literal_fields(a[0])
    f2 = _struct_literal_fields(a[1])
    if f1 is not None and f2 is not None:
        if len(f1) != len(f2):
            raise ValueError(
                "dotProduct: tuple operands have different arities"
            )
        return "(" + " + ".join(
            f"CAST({x} AS DOUBLE) * ({y})" for x, y in zip(f1, f2)
        ) + ")"
    return (
        f"aggregate(zip_with({a[0]}, {a[1]}, "
        f"(__x, __y) -> CAST(__x AS DOUBLE) * __y), 0D, "
        f"(__acc, __v) -> __acc + __v)"
    )


_DOLLAR_QUOTE_RE = re.compile(
    r"\$([A-Za-z_][A-Za-z0-9_]*|)\$(.*?)\$\1\$", re.DOTALL
)


def _rewrite_dollar_quoted_strings(sql: str) -> str:
    """CH dollar-quoted strings (``$$text$$`` / ``$tag$text$tag$``,
    PostgreSQL-style heredocs) → single-quoted literals with ''
    escaping. Runs FIRST — the content may hold quotes that would
    confuse every later quote-aware scan. Spans inside existing
    single-quoted / double-quoted / backtick spans are left alone
    (``_QUOTED_SPAN``, the same scanner every other pass uses, so
    the two can never disagree about quote parity); a match that
    starts inside one is skipped — NOT a stop — so a genuine heredoc
    later in the statement (``SELECT '$$', $$a$$``) still converts.
    A lone unmatched ``$tag$`` is left for Spark's parser to
    report."""
    if "$" not in sql:
        return sql

    out = sql
    pos = 0
    while True:
        m = _DOLLAR_QUOTE_RE.search(out, pos)
        if not m:
            break
        quoted = [q.span() for q in _QUOTED_SPAN.finditer(out)]
        if any(a <= m.start() < b for a, b in quoted):
            pos = m.start() + 1
            continue
        body = m.group(2).replace("'", "''")
        lit = f"'{body}'"
        out = out[: m.start()] + lit + out[m.end():]
        pos = m.start() + len(lit)
    return out


_HEX_BIN_LITERAL_RE = re.compile(r"\b0([xXbB])([0-9A-Fa-f]+)\b")


def _rewrite_numeric_base_literals(sql: str) -> str:
    """CH hex (``0x1F``) and binary (``0b101``) integer literals →
    decimal; Spark's lexer has neither form. Quote-aware via
    _sub_unquoted so string contents keep their spelling."""
    if "0x" not in sql and "0X" not in sql \
            and "0b" not in sql and "0B" not in sql:
        return sql

    def _seg(seg: str) -> str:
        def repl(m: "re.Match[str]") -> str:
            base, digits = m.group(1).lower(), m.group(2)
            try:
                return str(int(digits, 16 if base == "x" else 2))
            except ValueError:
                return m.group(0)

        return _HEX_BIN_LITERAL_RE.sub(repl, seg)

    return _sub_unquoted(sql, _seg)


def _rewrite_double_quoted_identifiers(sql: str) -> str:
    """`"name"` → `` `name` `` outside single-quoted literals and
    backtick quotes. CH follows the SQL standard (double quotes are
    identifiers; `""` escapes a quote inside one; string literals
    are single-quoted with backslash or `''` escapes)."""
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            out.append(c)
            i += 1
            while i < n:
                ch = sql[i]
                if ch == "\\" and i + 1 < n:
                    out.append(ch)
                    out.append(sql[i + 1])
                    i += 2
                    continue
                out.append(ch)
                i += 1
                if ch == "'":
                    if i < n and sql[i] == "'":  # '' stays inside
                        out.append("'")
                        i += 1
                        continue
                    break
        elif c == "`":
            out.append(c)
            i += 1
            while i < n:
                out.append(sql[i])
                i += 1
                if sql[i - 1] == "`":
                    break
        elif c == '"':
            ident: list[str] = []
            j = i + 1
            closed = False
            while j < n:
                if sql[j] == '"':
                    if j + 1 < n and sql[j + 1] == '"':
                        ident.append('"')
                        j += 2
                        continue
                    closed = True
                    j += 1
                    break
                ident.append(sql[j])
                j += 1
            if not closed:
                out.append(c)
                i += 1
                continue
            name = "".join(ident).replace("`", "``")
            out.append(f"`{name}`")
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _quantile_exclusive_expr(
    x: str, levels: list[str], single: bool = False,
    arrays: bool = False,
) -> str:
    """quantile(s)ExactExclusive — the R-6 estimator (Excel
    PERCENTILE.EXC): over the sorted group of size n, rank
    h = (n+1)·p; h < 1 clamps to the minimum, h ≥ n to the maximum,
    else linear interpolation between the floor(h)-th and next
    values (1-indexed). One sorted collect, the array let-bound via
    the single-element transform idiom."""
    if not levels:
        raise ValueError(
            "quantileExactExclusive(level[, ...])(x) needs at least "
            "one level"
        )

    def cell(p: str) -> str:
        h = f"((size(__qa) + 1) * CAST({p} AS DOUBLE))"
        lo = f"element_at(__qa, CAST(floor({h}) AS INT))"
        hi = f"element_at(__qa, CAST(floor({h}) AS INT) + 1)"
        return (
            f"CASE WHEN size(__qa) = 0 THEN NULL "
            f"WHEN {h} < 1 THEN CAST(element_at(__qa, 1) AS DOUBLE) "
            f"WHEN {h} >= size(__qa) THEN "
            f"CAST(element_at(__qa, size(__qa)) AS DOUBLE) "
            f"ELSE {lo} + ({h} - floor({h})) * ({hi} - {lo}) END"
        )

    body = (
        cell(levels[0])
        if single
        else "array(" + ", ".join(cell(p) for p in levels) + ")"
    )
    if arrays:
        # filter NULL elements: the row-wise path skips them via
        # collect_list, and a NULL inside array_sort would land in
        # the interpolation window.
        collected = (
            f"filter(flatten(collect_list(transform({x}, "
            f"__qe -> CAST(__qe AS DOUBLE)))), "
            f"__qv -> __qv IS NOT NULL)"
        )
    else:
        collected = f"collect_list(CAST({x} AS DOUBLE))"
    arr = f"array_sort({collected})"
    return (
        f"element_at(transform(array({arr}), __qa -> {body}), 1)"
    )


def _parse_best_effort_builder(is64: bool, or_null: bool):
    """parseDateTime(64)BestEffort(OrNull): a cast attempt plus the
    common non-ISO spellings CH's best-effort parser documents —
    Apache-log dd/MMM/yyyy:HH:mm:ss, compact digits, dd/MM and
    dd-MM forms. The 64 variants keep sub-second precision via the
    plain cast arm and honor the precision parameter (truncating to
    10^-p seconds, p ≤ 6 — Spark timestamps are µs); the timezone
    argument parses the string as wall time in that zone (the
    toDateTime(x, tz) convention). The throwing forms raise on
    unparseable non-NULL input like CH; OrNull yields NULL."""
    name = (
        "parseDateTime64BestEffort" if is64 else "parseDateTimeBestEffort"
    ) + ("OrNull" if or_null else "")

    def build(a: list[str]) -> str:
        x = a[0]
        tz = prec = None
        if is64:
            if len(a) >= 2:
                prec = a[1]
            if len(a) == 3:
                tz = a[2]
            if len(a) > 3:
                raise ValueError(
                    f"{name}(x[, precision[, timezone]]) takes one "
                    "to three arguments"
                )
        else:
            if len(a) == 2:
                tz = a[1]
            if len(a) > 2:
                raise ValueError(
                    f"{name}(x[, timezone]) takes one or two "
                    "arguments"
                )
        parsed = (
            f"coalesce(try_cast({x} AS TIMESTAMP), "
            f"try_to_timestamp({x}, 'dd/MMM/yyyy:HH:mm:ss'), "
            f"try_to_timestamp({x}, 'dd/MM/yyyy HH:mm:ss'), "
            f"try_to_timestamp({x}, 'dd MMM yyyy'), "
            f"try_to_timestamp({x}, 'yyyyMMddHHmmss'), "
            f"try_to_timestamp({x}, 'yyyyMMdd'), "
            f"try_to_timestamp({x}, 'dd-MM-yyyy'), "
            # CH's documented 9/10-digit unix-timestamp spelling
            f"CASE WHEN ({x}) RLIKE '^[0-9]{{9,10}}$' THEN "
            f"timestamp_seconds(CAST({x} AS BIGINT)) END)"
        )
        if tz is not None:
            # CH applies the tz argument only to strings WITHOUT
            # their own offset; inputs carrying Z/±hh:mm are already
            # absolute instants (let-bind to evaluate the arms once).
            has_off = (
                f"({x}) RLIKE '(Z|z|UTC|[+-][0-9]{{2}}:?[0-9]{{2}})"
                f"\\\\s*$'"
            )
            parsed = (
                f"element_at(transform(array({parsed}), "
                f"__pt -> IF({has_off}, __pt, "
                f"to_utc_timestamp(__pt, {tz}))), 1)"
            )
        if is64:
            # CH's default DateTime64 scale is 3 (milliseconds)
            p = 3
            if prec is not None:
                try:
                    p = int(_unquote(prec.strip()))
                except ValueError:
                    raise ValueError(
                        f"{name}: precision must be a literal integer"
                    ) from None
                if p < 0 or p > 9:
                    raise ValueError(f"{name}: precision must be 0–9")
            if p < 6:
                pw = 10 ** (6 - p)
                parsed = (
                    f"timestamp_micros(CAST(floor(unix_micros("
                    f"{parsed}) / {pw}) * {pw} AS BIGINT))"
                )
            # p in 6..9: Spark's µs is the representable maximum
        if not or_null:
            msg = (
                f"{name}: cannot parse the input as a datetime "
                "(use the OrNull form to map bad rows to NULL)"
            )
            # single evaluation of the parsed arms: NULL input stays
            # NULL, an unparseable non-NULL input raises like CH
            parsed = (
                f"coalesce({parsed}, IF(({x}) IS NULL, "
                f"CAST(NULL AS TIMESTAMP), "
                f"CAST(raise_error('{msg}') AS TIMESTAMP)))"
            )
        return parsed

    return build


def _to_start_of_week_mode(a: list[str]) -> str:
    """toStartOfWeek(d, mode[, tz]): CH/MySQL week modes — every ODD
    mode is Monday-first, EVEN Sunday-first. A timezone argument
    shifts a TIMESTAMP to that zone's wall time before truncation;
    a pure Date carries no instant, so the shift must not touch it
    (typeof branches at runtime — both arms return Date)."""
    if len(a) > 3:
        raise ValueError(
            "toStartOfWeek(date[, mode[, timezone]]) takes one to "
            "three arguments"
        )

    def week_start(x: str) -> str:
        return (
            f"date_sub(CAST({x} AS DATE), "
            f"CASE WHEN pmod(CAST({a[1]} AS INT), 2) = 1 THEN "
            f"pmod(dayofweek({x}) + 5, 7) "
            f"ELSE dayofweek({x}) - 1 END)"
        )

    if len(a) < 3:
        return week_start(a[0])
    shifted = f"from_utc_timestamp({a[0]}, {a[2]})"
    return (
        f"CASE WHEN typeof({a[0]}) = 'date' THEN {week_start(a[0])} "
        f"ELSE {week_start(shifted)} END"
    )


def _bare_weighted_median(a: list[str]) -> str:
    """Bare quantileXWeighted(x, w) / medianXWeighted(x, w): CH's
    default level 0.5 over Spark percentile's frequency argument."""
    if len(a) != 2:
        raise ValueError(
            "weighted quantile takes (column, weight); spell levels "
            "parametrically: quantileExactWeighted(p)(x, w)"
        )
    return f"percentile({a[0]}, 0.5, CAST({a[1]} AS BIGINT))"


def _guard_prob(fn: str, p: str) -> str:
    """Clamp a probability argument to the OPEN interval (0, 1):
    a literal outside it refuses at transpile time with CH's clear
    argument error; a column/expression gets a runtime raise_error
    guard instead of the opaque ANSI overflow the degenerate
    ln(1-p) values would otherwise produce (ADVICE r10)."""
    msg = f"{fn}: probability must be in the open interval (0, 1)"
    try:
        val = float(p.strip())
    except ValueError:
        # NULL p yields NULL like every CH scalar, never the error.
        return (
            f"CASE WHEN ({p}) IS NULL THEN CAST(NULL AS DOUBLE) "
            f"WHEN ({p}) > 0 AND ({p}) < 1 THEN {p} "
            f"ELSE CAST(raise_error('{msg}') AS DOUBLE) END"
        )
    if not 0.0 < val < 1.0:
        raise ValueError(msg)
    return p


def _trials(n: str) -> str:
    """1..n as an array that is EMPTY for n ≤ 0 (Spark's
    sequence(1, 0) descends instead)."""
    return (
        f"slice(sequence(1, greatest(CAST({n} AS INT), 1)), 1, "
        f"greatest(CAST({n} AS INT), 0))"
    )


def _array_sort_builder(a: list[str]) -> str:
    """arraySort([f,] arr[, arr2]) — plain form → sort_array; keyed
    forms via a Schwartzian (key, index, value) struct sort: one key
    evaluation per element, stable on equal keys like CH. The
    two-array form sorts arr1 by f(x1, x2) pairs (CH docs:
    arraySort((x, y) -> y, ['hello', 'world'], [2, 1]))."""
    if len(a) == 1:
        return f"sort_array({a[0]})"
    if len(a) == 2:
        ks = f"transform({a[1]}, {a[0]})"
    elif len(a) == 3:
        ks = f"zip_with({a[1]}, {_pair_sized(a[1], a[2])}, {a[0]})"
    else:
        raise ValueError(
            "arraySort/arrayReverseSort(f, arr1[, arr2]): at most "
            "two key arrays are transpiled"
        )
    arr = a[1]
    pairs = (
        f"transform({_trials(f'size({arr})')}, __i -> named_struct("
        f"'k', element_at({ks}, __i), 'i', __i, "
        f"'v', element_at({arr}, __i)))"
    )
    return f"transform(array_sort({pairs}), __s -> __s.v)"


def _agg_matrix(fn: str, a: list[str]) -> str:
    """corrMatrix/covar*Matrix(x1..xn) → Array(Array(Float64)): the
    column list is static, so emit n² aggregate cells."""
    if not a:
        raise ValueError("aggregate matrix needs at least one column")
    rows = ", ".join(
        "array(" + ", ".join(f"{fn}({x}, {y})" for y in a) + ")"
        for x in a
    )
    return f"array({rows})"


def _url_hierarchy_expr(u: str) -> str:
    """CH URLHierarchy(url): the hierarchy STARTS at the bare
    scheme://host level (ADVICE r10 — URLHash(u, 0) hashes the host
    level), then adds one path segment per element. The 1..n segment
    sequence goes through _trials so a path-less URL yields just the
    host element (bare sequence(1, 0) would descend)."""
    host = f"regexp_replace({u}, '(//[^/]+).*$', '$1')"
    segs = (
        f"filter(split(parse_url({u}, 'PATH'), '/'), __s -> __s != '')"
    )
    # NULL url → NULL (the host prepend would otherwise yield
    # array(NULL): size(NULL) is NULL, _trials clamps it to an empty
    # sequence, and concat would keep the NULL host element).
    return (
        f"IF(({u}) IS NULL, CAST(NULL AS ARRAY<STRING>), "
        f"concat(array({host}), "
        f"transform({_trials(f'size({segs})')}, "
        f"__i -> concat({host}, "
        f"'/', array_join(slice({segs}, 1, __i), '/')))))"
    )


def _refuse(msg: str) -> str:
    """Expression-position guided refusal — lets builder lambdas
    refuse one arity inline (``cond if ok else _refuse(...)``)."""
    raise ValueError(msg)


def _map_populate_series_builder(a: list[str]) -> str:
    """mapPopulateSeries: fill missing integer keys with step 1 and
    value 0. Map form ``(map[, max])`` returns a Map; array form
    ``(keys, values[, max])`` returns the CH Tuple(Array, Array) as a
    struct. The bound expressions repeat textually (Catalyst dedups
    common subexpressions)."""
    def looks_array(s: str) -> bool:
        # Literal spellings only — a column NAMED ``array_keys`` must
        # not silently pick a form (ADVICE r9).
        t = s.strip().lower()
        return t.startswith("[") or t.startswith("array(")

    def looks_map(s: str) -> bool:
        t = s.strip().lower()
        return t.startswith("map(")

    if len(a) not in (1, 2, 3):
        raise ValueError(
            "mapPopulateSeries(map[, max]) or "
            "mapPopulateSeries(keys, values[, max])"
        )
    # Dispatch: 1 arg → map form, 3 args → array form; the 2-arg
    # shape is (map, max) OR (keys, values) and only the argument
    # SPELLINGS can distinguish them at transpile time.
    if len(a) == 2 and not (
        looks_array(a[0]) or looks_array(a[1]) or looks_map(a[0])
    ):
        raise ValueError(
            "mapPopulateSeries with two column arguments is "
            "ambiguous between (map, max) and (keys, values) at "
            "transpile time; spell the map as map(...) / the arrays "
            "as array literals, or pass the 3-argument "
            "(keys, values, max) form"
        )
    map_form = len(a) == 1 or (
        len(a) == 2 and looks_map(a[0]) and not looks_array(a[1])
    )
    def safe_seq(mn: str, mx: str) -> str:
        # sequence(mn, mx) DESCENDS when mx < mn and NULLs on an
        # empty operand; CH fills nothing in either case. slice to
        # the non-negative span, coalescing bounds so an empty map
        # yields a typed empty array instead of NULL (ADVICE r9).
        return (
            f"slice(sequence(coalesce({mn}, 0), "
            f"greatest(coalesce({mn}, 0), coalesce({mx}, 0))), 1, "
            f"CAST(greatest(coalesce(({mx}) - ({mn}) + 1, 0), 0) "
            f"AS INT))"
        )

    if map_form:
        m = a[0]
        mn = f"array_min(map_keys({m}))"
        mx = a[1] if len(a) == 2 else f"array_max(map_keys({m}))"
        seq = safe_seq(mn, mx)
        return (
            f"map_from_arrays({seq}, transform({seq}, "
            f"__k -> coalesce(element_at({m}, __k), 0)))"
        )
    keys, vals = a[0], a[1]
    mn = f"array_min({keys})"
    mx = a[2] if len(a) == 3 else f"array_max({keys})"
    seq = safe_seq(mn, mx)
    filled = (
        f"transform({seq}, __k -> IF(array_position({keys}, __k) > 0, "
        f"element_at({vals}, CAST(array_position({keys}, __k) AS INT)),"
        f" 0))"
    )
    return f"struct({seq}, {filled})"


def _tuple_arith_builder(name: str):
    """tuplePlus/Minus/Multiply/Divide/Negate/…ByNumber/tupleConcat →
    field-wise struct expansion. Works on INLINE tuple spellings
    (``tuple(a, b)`` / ``(a, b)``); tuple-typed column refs keep the
    guided refusal (arity unknown at string level)."""
    # Element-wise combiners: name → (x, y) -> SQL. intDiv pairs use
    # Spark's integer `div`; the OrZero twins map a zero divisor to 0
    # (CH's contract) via nullif+coalesce.
    ops = {
        "tuplePlus": lambda x, y: f"({x}) + ({y})",
        "tupleMinus": lambda x, y: f"({x}) - ({y})",
        "tupleMultiply": lambda x, y: f"({x}) * ({y})",
        "tupleDivide": lambda x, y: f"({x}) / ({y})",
        "tupleIntDiv": lambda x, y: f"({x}) div ({y})",
        "tupleIntDivOrZero": lambda x, y: (
            f"coalesce(({x}) div nullif({y}, 0), 0)"
        ),
        "tupleModulo": lambda x, y: f"({x}) % ({y})",
        "tupleModuloByNumber": lambda x, y: f"({x}) % ({y})",
        "tupleIntDivByNumber": lambda x, y: f"({x}) div ({y})",
        "tupleIntDivOrZeroByNumber": lambda x, y: (
            f"coalesce(({x}) div nullif({y}, 0), 0)"
        ),
    }

    def build(a: list[str]) -> str:
        refusal = ValueError(
            f"{name}() expands field-wise only for inline tuples — "
            f"spell the operands as tuple(a, b, ...); a tuple-typed "
            "column reference has unknown arity at transpile time "
            "(use arrays: arrayDotProduct / zip_with)"
        )
        if name == "tupleConcat":
            fields: list[str] = []
            for arg in a:
                fs = _struct_literal_fields(arg)
                if fs is None:
                    raise refusal
                fields.extend(fs)
            return f"struct({', '.join(fields)})"
        if name == "tupleNegate":
            fs = _struct_literal_fields(a[0]) if a else None
            if len(a) != 1 or fs is None:
                raise refusal
            return f"struct({', '.join(f'-({f})' for f in fs)})"
        if name in ("tupleMultiplyByNumber", "tupleDivideByNumber",
                    "tupleModuloByNumber", "tupleIntDivByNumber",
                    "tupleIntDivOrZeroByNumber"):
            if len(a) != 2:
                raise refusal
            fs = _struct_literal_fields(a[0])
            if fs is None:
                raise refusal
            combine = {
                "tupleMultiplyByNumber": lambda x, y: f"({x}) * ({y})",
                "tupleDivideByNumber": lambda x, y: f"({x}) / ({y})",
            }.get(name, ops.get(name))
            return (
                "struct("
                + ", ".join(combine(f, a[1]) for f in fs)
                + ")"
            )
        combine = ops[name]
        if len(a) != 2:
            raise refusal
        f1 = _struct_literal_fields(a[0])
        f2 = _struct_literal_fields(a[1])
        if f1 is None or f2 is None or len(f1) != len(f2):
            raise refusal
        return (
            "struct("
            + ", ".join(combine(x, y) for x, y in zip(f1, f2))
            + ")"
        )

    return build


def _array_split_builder(reverse: bool):
    """arraySplit / arrayReverseSplit(λ, arr[, arr2]) →
    ``Array(Array(T))`` (CH Functions/array/arraySplit). The λ is
    evaluated once per element (``transform``, or ``zip_with`` for
    the two-source form); cut positions come from an index-aware
    transform (O(n), no per-element re-scan), the bounds array is
    LET-bound via a single-element transform, and slices are taken
    between consecutive bounds. arraySplit starts a new group AT a
    flagged element (the first element never cuts); arrayReverseSplit
    ENDS the group at a flagged element (a flag on the last element
    is a no-op). A NULL λ result counts as no-cut; empty input → []
    (the size>0 filter drops the single empty slice); NULL input →
    NULL."""
    name = "arrayReverseSplit" if reverse else "arraySplit"

    def build(a: list[str]) -> str:
        if len(a) not in (2, 3):
            raise ValueError(
                f"{name}(lambda, arr[, arr2]) takes a lambda and one "
                "or two source arrays"
            )
        lam, arr = a[0], a[1]
        flags = (
            f"transform({arr}, {lam})"
            if len(a) == 2
            else f"zip_with({arr}, {_pair_sized(arr, a[2])}, {lam})"
        )
        truthy = "coalesce(CAST(__f AS BOOLEAN), false)"
        if reverse:
            # flag at 1-based position p < n ends the group after p:
            # boundary p+1 (0-based __i → p = __i+1 → boundary __i+2).
            cuts = (
                f"filter(transform({flags}, (__f, __i) -> "
                f"IF(__i < size({arr}) - 1 AND {truthy}, "
                f"__i + 2, -1)), __c -> __c > 0)"
            )
        else:
            # flag at position p ≥ 2 starts a new group: boundary p.
            cuts = (
                f"filter(transform({flags}, (__f, __i) -> "
                f"IF(__i >= 1 AND {truthy}, __i + 1, -1)), "
                f"__c -> __c > 0)"
            )
        bounds = f"concat(array(1), {cuts}, array(size({arr}) + 1))"
        return (
            f"element_at(transform(array({bounds}), __b -> "
            f"filter(transform(sequence(1, size(__b) - 1), __j -> "
            f"slice({arr}, element_at(__b, __j), "
            f"element_at(__b, __j + 1) - element_at(__b, __j))), "
            f"__g -> size(__g) > 0)), 1)"
        )

    return build


def _tuple_hamming_builder(a: list[str]) -> str:
    """tupleHammingDistance(t1, t2): count of differing components,
    expanded field-wise for inline tuples (null-safe compare — a
    NULL-vs-value component counts as different, NULL-vs-NULL as
    equal)."""
    if len(a) != 2:
        raise ValueError(
            "tupleHammingDistance(t1, t2) takes exactly two tuples"
        )
    f1 = _struct_literal_fields(a[0])
    f2 = _struct_literal_fields(a[1])
    if f1 is None or f2 is None or len(f1) != len(f2):
        raise ValueError(
            "tupleHammingDistance() expands field-wise only for "
            "inline tuples of equal arity — spell the operands as "
            "tuple(a, b, ...); tuple-typed column refs have unknown "
            "arity at transpile time"
        )
    terms = " + ".join(
        f"CAST(NOT (({x}) <=> ({y})) AS INT)" for x, y in zip(f1, f2)
    )
    return f"({terms})"


def _flatten_tuple_builder(a: list[str]) -> str:
    """flattenTuple(t): recursively inline nested tuple fields into
    one flat tuple. Inline tuples only (arity unknown for columns)."""
    if len(a) != 1:
        raise ValueError("flattenTuple(t) takes exactly one tuple")

    def flat(expr: str) -> list[str]:
        sub = _struct_literal_fields(expr)
        if sub is None:
            return [expr]
        out: list[str] = []
        for f in sub:
            out.extend(flat(f))
        return out

    fields = _struct_literal_fields(a[0])
    if fields is None:
        raise ValueError(
            "flattenTuple() expands only inline tuples — spell the "
            "operand as tuple(a, tuple(b, c), ...); a tuple-typed "
            "column ref has unknown shape at transpile time"
        )
    flat_fields: list[str] = []
    for f in fields:
        flat_fields.extend(flat(f))
    return f"struct({', '.join(flat_fields)})"


def _array_levenshtein_builder(a: list[str]) -> str:
    """arrayLevenshteinDistance(a, b): classic DP, one fold over
    ``a`` carrying the DP row for ``b`` (row rebuilt with an inner
    fold — the new cell depends on the previous new cell, so a plain
    transform can't express it). Element equality is null-safe. Cost
    O(|a|·|b|²) from array append; CH arrays here are row-local and
    small. Empty sides degrade to the other side's length."""
    if len(a) != 2:
        raise ValueError(
            "arrayLevenshteinDistance(a, b) takes exactly two arrays"
        )
    x, y = a
    # Inner fold guarded: sequence(1, 0) DESCENDS in Spark, so the
    # empty-b case short-circuits to the single-cell row.
    inner = (
        f"IF(size({y}) = 0, array(element_at(__row, 1) + 1), "
        f"aggregate(sequence(1, size({y})), "
        f"array(element_at(__row, 1) + 1), "
        f"(__nr, __j) -> concat(__nr, array(least("
        f"element_at(__row, __j + 1) + 1, "
        f"element_at(__nr, -1) + 1, "
        f"element_at(__row, __j) + "
        f"IF(element_at({y}, __j) <=> __x, 0, 1)))), "
        f"__nr -> __nr))"
    )
    return (
        f"aggregate({x}, sequence(0, size({y})), "
        f"(__row, __x) -> {inner}, "
        f"__row -> element_at(__row, -1))"
    )


def _byte_swap_builder(a: list[str]) -> str:
    """byteSwap(x): reverse the integer's bytes — a ``typeof()``
    width walk like byteSize. 8-bit values are identity; 16/32-bit
    reassemble in a wider lane then reinterpret the sign bit; 64-bit
    uses shiftrightunsigned so the sign never smears. The result is
    BIGINT carrying the swapped two's-complement bit pattern (CH
    returns the input's own width; a CASE has one output type, and
    the signed-64 pattern is the honest common carrier — CH UInt64
    displays the same bits unsigned)."""
    if len(a) != 1:
        raise ValueError("byteSwap(x) takes exactly one argument")
    x = a[0]
    t = f"typeof({x})"
    xi = f"CAST({x} AS INT)"
    v16 = (
        f"(shiftleft(({xi}) & 255, 8) | (shiftright({xi}, 8) & 255))"
    )
    r16 = f"CAST(IF({v16} >= 32768, {v16} - 65536, {v16}) AS BIGINT)"
    xb = f"CAST({x} AS BIGINT)"
    v32 = (
        f"(shiftleft(({xb}) & 255, 24) | "
        f"shiftleft(shiftright({xb}, 8) & 255, 16) | "
        f"shiftleft(shiftright({xb}, 16) & 255, 8) | "
        f"(shiftright({xb}, 24) & 255))"
    )
    r32 = f"IF({v32} >= 2147483648, {v32} - 4294967296, {v32})"
    r64 = " | ".join(
        f"shiftleft(shiftrightunsigned({xb}, {8 * i}) & 255, {8 * (7 - i)})"
        if i < 7
        else f"(shiftrightunsigned({xb}, 56) & 255)"
        for i in range(8)
    )
    return (
        f"CAST(CASE "
        f"WHEN {t} IN ('tinyint', 'boolean') THEN {xb} "
        f"WHEN {t} = 'smallint' THEN {r16} "
        f"WHEN {t} = 'int' THEN {r32} "
        f"WHEN {t} = 'bigint' THEN ({r64}) "
        f"ELSE raise_error(concat('byte swap unsupported for type ', "
        f"{t}, ' — integers only')) END AS BIGINT)"
    )


def _map_apply_builder(a: list[str]) -> str:
    """mapApply((k, v) -> (k', v'), m): the λ body must be an inline
    2-tuple; it is split into two single-expression lambdas sharing
    the original parameter names and applied with zip_with over
    map_keys/map_values (same traversal order), re-assembled with
    map_from_arrays — no string substitution of the parameters."""
    if len(a) != 2:
        raise ValueError(
            "mapApply(lambda, map) takes a lambda and one map"
        )
    lam, m = a[0], a[1]
    if "->" not in lam:
        raise ValueError(
            "mapApply() first argument must be a lambda: "
            "(k, v) -> (k_expr, v_expr)"
        )
    params, body = lam.split("->", 1)
    params = params.strip()
    fields = _struct_literal_fields(body.strip())
    if fields is None or len(fields) != 2:
        raise ValueError(
            "mapApply() lambda must return an inline 2-tuple "
            "(k_expr, v_expr) so the key/value rewrites can split"
        )
    keys = f"zip_with(map_keys({m}), map_values({m}), {params} -> ({fields[0]}))"
    vals = f"zip_with(map_keys({m}), map_values({m}), {params} -> ({fields[1]}))"
    return f"map_from_arrays({keys}, {vals})"


def _interval_sweep_builder(kind: str):
    """maxIntersections / maxIntersectionsPosition / intervalLengthSum
    (start, end) — interval aggregates as ONE sorted sweep: each row
    contributes (start,+1)/(end,−1) events (flatten of a per-row
    2-array), sort_array orders by (position, delta) so an end sorts
    before a coincident start — half-open [L, R) semantics, touching
    intervals do not intersect — then a single O(n) fold runs the
    sweep. intervalLengthSum instead sorts (start, end) pairs and
    merges overlaps in one fold. NULL start/end rows are skipped."""

    def build(a: list[str]) -> str:
        if len(a) != 2:
            raise ValueError(f"{kind}(start, end) takes two arguments")
        s, e = a
        both = f"({s}) IS NOT NULL AND ({e}) IS NOT NULL"
        if kind == "intervalLengthSum":
            ivs = (
                f"sort_array(collect_list(CASE WHEN {both} THEN "
                f"named_struct('s', CAST({s} AS DOUBLE), "
                f"'e', CAST({e} AS DOUBLE)) END))"
            )
            return (
                f"aggregate({ivs}, "
                f"named_struct('t', CAST(0 AS DOUBLE), "
                f"'cur', CAST(-1.7976931348623157E308 AS DOUBLE)), "
                f"(__acc, __iv) -> named_struct("
                f"'t', __acc.t + greatest(CAST(0 AS DOUBLE), "
                f"__iv.e - greatest(__iv.s, __acc.cur)), "
                f"'cur', greatest(__acc.cur, __iv.e)), "
                f"__acc -> __acc.t)"
            )
        events = (
            f"sort_array(flatten(collect_list(CASE WHEN {both} THEN "
            f"array(named_struct('p', CAST({s} AS DOUBLE), "
            f"'d', 1), named_struct('p', CAST({e} AS DOUBLE), "
            f"'d', -1)) END)))"
        )
        # sort is (p, d) ascending: d=-1 first at equal p. The fold
        # tracks the running count, its max, and the first position
        # achieving the max.
        fold = (
            f"aggregate({events}, "
            f"named_struct('cur', 0, 'mx', 0, "
            f"'pos', CAST(NULL AS DOUBLE)), "
            f"(__acc, __ev) -> named_struct("
            f"'cur', __acc.cur + __ev.d, "
            f"'mx', greatest(__acc.mx, __acc.cur + __ev.d), "
            f"'pos', IF(__acc.cur + __ev.d > __acc.mx, __ev.p, "
            f"__acc.pos)), "
            f"__acc -> __acc)"
        )
        if kind == "maxIntersections":
            return f"CAST(({fold}).mx AS BIGINT)"
        return f"({fold}).pos"

    return build


def _delta_sum_timestamp_builder(a: list[str]) -> str:
    """deltaSumTimestamp(value, timestamp): sum of POSITIVE
    consecutive deltas in timestamp order — one sorted collect +
    O(n) fold (ties keep the (ts, value) sort order, deterministic
    where CH's block order is not). NULL value/ts rows skip."""
    if len(a) != 2:
        raise ValueError(
            "deltaSumTimestamp(value, timestamp) takes two arguments"
        )
    v, ts = a
    both = f"({v}) IS NOT NULL AND ({ts}) IS NOT NULL"
    arr = (
        f"sort_array(collect_list(CASE WHEN {both} THEN "
        f"named_struct('t', {ts}, 'v', CAST({v} AS DOUBLE)) END))"
    )
    return (
        f"aggregate({arr}, "
        f"named_struct('acc', CAST(0 AS DOUBLE), "
        f"'prev', CAST(NULL AS DOUBLE)), "
        f"(__a, __e) -> named_struct("
        f"'acc', __a.acc + IF(__a.prev IS NOT NULL AND "
        f"__e.v > __a.prev, __e.v - __a.prev, CAST(0 AS DOUBLE)), "
        f"'prev', __e.v), "
        f"__a -> __a.acc)"
    )


def _tukey_outliers_builder(a: list[str]) -> str:
    """seriesOutliersDetectTukey(series[, min_q, max_q, k]) → array
    of anomaly scores, same length: 0 inside the Tukey fences
    [q_min − k·IQR, q_max + k·IQR], else the distance beyond the
    nearest fence (documented convention; CH flags the same points).
    Quantiles are linear-interpolated over the sorted non-NULL
    values (percentile_cont's rule). The sorted array and fences are
    LET-bound via single-element transforms — one sort, O(n) scoring.
    NULL elements score NULL; fewer than 4 points raise, as in CH.
    Percentile params accept fractions (0.25) or percents (25)."""
    if len(a) not in (1, 4):
        raise ValueError(
            "seriesOutliersDetectTukey(series[, min_percentile, "
            "max_percentile, k]) takes 1 or 4 arguments"
        )
    arr = a[0]
    if len(a) == 4:
        try:
            p_lo, p_hi, k = (float(v) for v in a[1:])
        except ValueError:
            raise ValueError(
                "seriesOutliersDetectTukey: the percentile/k "
                "parameters must be numeric literals"
            ) from None
        if p_lo > 1:
            p_lo /= 100.0
        if p_hi > 1:
            p_hi /= 100.0
        if not (0.0 < p_lo < p_hi < 1.0) or k < 0:
            raise ValueError(
                "seriesOutliersDetectTukey: need 0 < min < max < 1 "
                "(fraction or percent) and k >= 0"
            )
    else:
        p_lo, p_hi, k = 0.25, 0.75, 1.5

    def q(p: float) -> str:
        pos = f"(1 + (size(__s) - 1) * CAST({p} AS DOUBLE))"
        lo = f"CAST(floor({pos}) AS INT)"
        return (
            f"(element_at(__s, {lo}) + ({pos} - floor({pos})) * "
            f"(element_at(__s, least({lo} + 1, size(__s))) - "
            f"element_at(__s, {lo})))"
        )

    sorted_arr = (
        f"sort_array(transform(filter({arr}, __x -> __x IS NOT NULL), "
        f"__x -> CAST(__x AS DOUBLE)))"
    )
    iqr = f"({q(p_hi)} - {q(p_lo)})"
    fences = (
        f"named_struct('lo', {q(p_lo)} - {k} * {iqr}, "
        f"'hi', {q(p_hi)} + {k} * {iqr})"
    )
    score = (
        f"IF(__x IS NULL, CAST(NULL AS DOUBLE), "
        f"greatest(CAST(0 AS DOUBLE), __f.lo - __x, __x - __f.hi))"
    )
    return (
        f"element_at(transform(array(element_at(transform("
        f"array({sorted_arr}), __s -> IF(size(__s) < 4, "
        f"named_struct('lo', CAST(raise_error('seriesOutliersDetect"
        f"Tukey needs at least 4 non-NULL points') AS DOUBLE), "
        f"'hi', CAST(0 AS DOUBLE)), {fences})), 1)), "
        f"__f -> transform({arr}, __x -> {score})), 1)"
    )


def _tuple_nvp_builder(a: list[str]) -> str:
    """tupleToNameValuePairs(t): inline tuple → array of ('index',
    value) pairs — CH names unnamed tuple fields by 1-based index.
    Values must share a type (Spark arrays are homogeneous; CH's
    mixed-type tuples have no Spark carrier)."""
    if len(a) != 1:
        raise ValueError(
            "tupleToNameValuePairs(t) takes exactly one tuple"
        )
    fields = _struct_literal_fields(a[0])
    if fields is None:
        raise ValueError(
            "tupleToNameValuePairs() expands only inline tuples — "
            "spell the operand as tuple(a, b, ...)"
        )
    pairs = ", ".join(
        f"struct('{i + 1}', {f})" for i, f in enumerate(fields)
    )
    return f"array({pairs})"


def _resample_builder(agg: str):
    """<agg>Resample(start, end, step)(x[, key]) → Array of per-bucket
    aggregates over [start + i·step, start + (i+1)·step) ∩ [start,
    end). With literal parameters the buckets expand to PLAIN
    conditional aggregates (JVM-side, no collect, no fold — the plan
    is an ordinary hash aggregate with nb extra columns); bucket
    count is capped. Empty buckets: 0 for sum/count (CH's additive
    default), NULL for min/max/avg (CH emits the type default there —
    NULL is the honest Spark spelling, documented divergence)."""

    def build(p: list[str], a: list[str]) -> str:
        if len(p) != 3:
            raise ValueError(
                f"{agg}Resample(start, end, step)(...) takes exactly "
                "three parameters"
            )
        try:
            start, end, step = (float(v) for v in p)
        except ValueError:
            raise ValueError(
                f"{agg}Resample parameters must be numeric literals"
            ) from None
        if step <= 0 or end <= start:
            raise ValueError(
                f"{agg}Resample: need step > 0 and end > start"
            )
        nb = int(math.ceil((end - start) / step))
        if nb > 1024:
            raise ValueError(
                f"{agg}Resample: {nb} buckets exceed the expansion "
                "cap (1024); GROUP BY floor((key - start) / step) "
                "instead"
            )
        want = 1 if agg == "count" else 2
        if len(a) != want:
            raise ValueError(
                f"{agg}Resample(start, end, step)"
                + ("(key)" if want == 1 else "(x, key)")
                + f" takes {want} argument(s)"
            )
        key = a[-1]
        exprs = []
        for i in range(nb):
            lo = start + i * step
            hi = min(lo + step, end)
            cond = f"(({key}) >= {lo} AND ({key}) < {hi})"
            if agg == "count":
                exprs.append(
                    f"coalesce(sum(CASE WHEN {cond} THEN 1 END), 0)"
                )
            elif agg == "sum":
                exprs.append(
                    f"coalesce(sum(CASE WHEN {cond} THEN {a[0]} END), "
                    f"sum(({a[0]}) * 0))"
                )
            else:
                exprs.append(
                    f"{agg}(CASE WHEN {cond} THEN {a[0]} END)"
                )
        return f"array({', '.join(exprs)})"

    return build


def _hilbert_encode_builder(a: list[str]) -> str:
    """hilbertEncode(x[, y]): 2-D Hilbert curve index — the published
    xy2d bit-interleaving walk (rx/ry quadrant bits, quadrant
    contribution s²·((3·rx)⊕ry), flip+swap rotation) as ONE fold
    over the 31 bit levels. Coordinates are capped at 2³¹−1 so the
    index (≤ 62 bits) stays inside the signed-64 lane — the CH doc
    anchor hilbertEncode(3, 4) = 31 is reproduced exactly. The 1-D
    form is the identity, as in CH."""
    if len(a) == 1:
        return f"CAST({a[0]} AS BIGINT)"
    if len(a) != 2:
        raise ValueError(
            "hilbertEncode supports 1 or 2 coordinate arguments"
        )
    x, y = a
    n1 = "2147483647"  # n−1 for n = 2^31
    guard = (
        f"IF(({x}) < 0 OR ({y}) < 0 OR ({x}) > {n1} OR ({y}) > {n1}, "
        f"raise_error('hilbert encode supports coordinates in "
        f"[0, 2147483647] — the 62-bit index fits the signed-64 "
        f"lane'), CAST(0 AS BIGINT))"
    )
    s = "shiftleft(CAST(1 AS BIGINT), __k)"
    rx = f"IF((__st.x & {s}) > 0, 1, 0)"
    ry = f"IF((__st.y & {s}) > 0, 1, 0)"
    flip = f"({rx} = 1)"
    return (
        f"aggregate(sequence(30, 0, -1), "
        f"named_struct('x', CAST({x} AS BIGINT) + {guard}, "
        f"'y', CAST({y} AS BIGINT), 'd', CAST(0 AS BIGINT)), "
        f"(__st, __k) -> named_struct("
        f"'x', IF({ry} = 0, IF({flip}, {n1} - __st.y, __st.y), "
        f"__st.x), "
        f"'y', IF({ry} = 0, IF({flip}, {n1} - __st.x, __st.x), "
        f"__st.y), "
        f"'d', __st.d + shiftleft(CAST(1 AS BIGINT), 2 * __k) * "
        f"CAST((3 * {rx}) ^ {ry} AS BIGINT)), "
        f"__st -> __st.d)"
    )


def _hilbert_decode_builder(a: list[str]) -> str:
    """hilbertDecode(2, code): the published d2xy inverse walk as one
    fold over the 31 bit levels (rotation with the CURRENT quadrant
    size, then quadrant offsets). Returns [x, y] — the same array
    convention as mortonDecode. The 1-D form is the identity."""
    if len(a) == 2 and a[0].strip() == "1":
        return f"array(CAST({a[1]} AS BIGINT))"
    if len(a) != 2 or a[0].strip() != "2":
        raise ValueError(
            "hilbertDecode(dimensions, code) supports dimensions "
            "1 or 2 with a literal dimension count"
        )
    code = a[1]
    s = "shiftleft(CAST(1 AS BIGINT), __k)"
    rx = "((__st.t div 2) & 1)"
    ry = f"((__st.t ^ {rx}) & 1)"
    fold = (
        f"aggregate(sequence(0, 30), "
        f"named_struct('x', CAST(0 AS BIGINT), 'y', CAST(0 AS "
        f"BIGINT), 't', CAST({code} AS BIGINT)), "
        f"(__st, __k) -> named_struct("
        f"'x', IF({ry} = 0, IF({rx} = 1, {s} - 1 - __st.y, __st.y), "
        f"__st.x) + {s} * {rx}, "
        f"'y', IF({ry} = 0, IF({rx} = 1, {s} - 1 - __st.x, __st.x), "
        f"__st.y) + {s} * {ry}, "
        f"'t', __st.t div 4), "
        f"__st -> __st)"
    )
    return f"array(({fold}).x, ({fold}).y)"


def _polygon_fold_builder(kind: str):
    """polygonAreaCartesian / polygonPerimeterCartesian over a CH
    polygon — Array(ring), ring = Array((x, y)) with ring[1] the
    outer boundary and later rings holes. Area = |shoelace(outer)|
    − Σ |shoelace(hole)| (one fold per ring, folded over rings);
    perimeter sums every ring's closed edge lengths (holes included,
    boost::geometry's convention). Vertex fields are read as
    col1/col2 — the default names Spark gives inline (x, y) tuple
    literals, which is how CH polygons are spelled; a polygon column
    with differently-named struct fields needs a rename upstream."""

    def build(a: list[str]) -> str:
        if len(a) != 1:
            raise ValueError(f"{kind}(polygon) takes one argument")
        poly = a[0]
        # Literal nesting depth decides Polygon vs MultiPolygon (the
        # CH docs spell these as triple-nested literals): count the
        # leading [ / array( wrappers down to the vertex tuples. A
        # column argument (no visible nesting) keeps the documented
        # Polygon contract.
        s = poly.strip()
        depth = 0
        while True:
            low = s.lower()
            if s.startswith("["):
                depth += 1
                s = s[1:].lstrip()
            elif low.startswith("array("):
                depth += 1
                s = s[6:].lstrip()
            else:
                break
        if depth >= 3:
            # MultiPolygon: sum the per-polygon values. Outer lambda
            # vars must not collide with the ring fold's __acc/__r.
            inner = build([f"__mp"])
            inner = inner.replace("__acc", "__pacc").replace(
                "__mp", "__poly"
            )
            return (
                f"aggregate({poly}, CAST(0 AS DOUBLE), "
                f"(__macc, __poly) -> __macc + {inner})"
            )
        # Per-ring fold over vertex index i (1-based): pairs
        # (v_i, v_{i+1 mod n}). Positional struct access via
        # element_at on the ring's zipped selves is type-fragile;
        # instead fold the INDEX sequence and read both vertices.
        if kind == "polygonAreaCartesian":
            ring_val = (
                "abs(aggregate(sequence(1, size(__r)), "
                "CAST(0 AS DOUBLE), (__a, __i) -> __a + "
                "(CAST(element_at(__r, __i).col1 AS DOUBLE) * "
                "element_at(__r, IF(__i = size(__r), 1, __i + 1)).col2"
                " - CAST(element_at(__r, IF(__i = size(__r), 1, "
                "__i + 1)).col1 AS DOUBLE) * element_at(__r, __i).col2"
                "), __a -> __a / 2))"
            )
            combine = (
                f"(__acc, __r) -> named_struct('v', __acc.v + "
                f"IF(__acc.first, {ring_val}, -({ring_val})), "
                f"'first', false)"
            )
            return (
                f"aggregate({poly}, named_struct('v', CAST(0 AS "
                f"DOUBLE), 'first', true), {combine}, __acc -> __acc.v)"
            )
        ring_val = (
            "aggregate(sequence(1, size(__r)), CAST(0 AS DOUBLE), "
            "(__a, __i) -> __a + sqrt("
            "pow(CAST(element_at(__r, __i).col1 AS DOUBLE) - "
            "element_at(__r, IF(__i = size(__r), 1, __i + 1)).col1, 2)"
            " + pow(CAST(element_at(__r, __i).col2 AS DOUBLE) - "
            "element_at(__r, IF(__i = size(__r), 1, __i + 1)).col2, 2)"
            "))"
        )
        return (
            f"aggregate({poly}, CAST(0 AS DOUBLE), "
            f"(__acc, __r) -> __acc + {ring_val})"
        )

    return build


def _array_fill_builder(a: list[str], reverse: bool) -> str:
    """arrayFill / arrayReverseFill(λ, arr[, arr2]) (CH
    Functions/array): scan arr; where λ is falsy the element is
    replaced by the nearest PRECEDING element where λ was truthy
    (arrayFill) or the nearest FOLLOWING one (arrayReverseFill);
    leading (resp. trailing) falsy elements stay unchanged. One
    O(n) fold carrying (acc, seen, last); the flag array is
    LET-bound via the single-element-transform trick so the λ runs
    once per element; the reverse form folds the reversed arrays and
    reverses the result."""
    name = "arrayReverseFill" if reverse else "arrayFill"
    if len(a) not in (2, 3):
        raise ValueError(
            f"{name}(lambda, arr[, arr2]) takes a lambda and one or "
            "two source arrays"
        )
    lam, arr = a[0], a[1]
    flags = (
        f"transform({arr}, {lam})"
        if len(a) == 2
        else f"zip_with({arr}, {_pair_sized(arr, a[2])}, {lam})"
    )
    if reverse:
        flags = f"reverse({flags})"
        src = f"reverse({arr})"
    else:
        src = arr
    truthy = "coalesce(CAST(element_at(__fl, __i) AS BOOLEAN), false)"
    fold = (
        f"aggregate(sequence(1, size({src})), "
        # typed empty acc / typed last via slices of the source;
        # try_element_at: ANSI mode throws on index-1 of an EMPTY
        # array, and the init value is eagerly folded even though
        # seen=false guards its use.
        f"named_struct('acc', slice({src}, 1, 0), 'seen', false, "
        f"'last', try_element_at({src}, 1)), "
        f"(__s, __i) -> IF({truthy}, "
        f"named_struct('acc', concat(__s.acc, slice({src}, __i, 1)), "
        f"'seen', true, 'last', element_at({src}, __i)), "
        f"named_struct('acc', concat(__s.acc, IF(__s.seen, "
        f"array(__s.last), slice({src}, __i, 1))), "
        f"'seen', __s.seen, 'last', __s.last)), "
        f"__s -> __s.acc)"
    )
    # sequence(1, 0) DESCENDS in Spark, so an empty input must skip
    # the fold entirely (same guard as arrayLevenshteinDistance).
    out = (
        f"IF(size({src}) = 0, slice({src}, 1, 0), "
        f"element_at(transform(array({flags}), __fl -> {fold}), 1))"
    )
    return f"reverse({out})" if reverse else out


_TIME_DELTA_UNITS = (
    "'ns', CAST(0.000000001 AS DOUBLE), 'us', 0.000001D, "
    "'ms', 0.001D, "
    "'s', 1D, 'sec', 1D, 'second', 1D, 'seconds', 1D, "
    "'m', 60D, 'min', 60D, 'minute', 60D, 'minutes', 60D, "
    "'h', 3600D, 'hr', 3600D, 'hour', 3600D, 'hours', 3600D, "
    "'d', 86400D, 'day', 86400D, 'days', 86400D, "
    "'w', 604800D, 'week', 604800D, 'weeks', 604800D"
)


def _parse_time_delta(a: list[str]) -> str:
    """parseTimeDelta('1h 30m') → Float64 seconds. Unambiguous units
    only (ns…weeks); month/year spellings have no fixed length and
    yield NULL (an unknown unit nulls the whole result), as does a
    string with no number+unit token."""
    if len(a) != 1:
        raise ValueError("parseTimeDelta() takes one string argument")
    pat = "'([0-9]+(?:\\\\.[0-9]+)?)\\\\s*([a-zA-Z]+)'"
    nums = f"regexp_extract_all({a[0]}, {pat}, 1)"
    units = f"regexp_extract_all({a[0]}, {pat}, 2)"
    terms = (
        f"zip_with({nums}, {units}, (__n, __u) -> "
        f"CAST(__n AS DOUBLE) * element_at("
        f"map({_TIME_DELTA_UNITS}), lower(__u)))"
    )
    return (
        f"IF(size({nums}) = 0, CAST(NULL AS DOUBLE), "
        f"aggregate({terms}, 0D, (__a, __x) -> __a + __x))"
    )


def _format_builder(a: list[str]) -> str:
    """format('{} and {}', x, y) / format('{1}-{0}', x, y): CH's
    fmt-style placeholder substitution, compiled at transpile time —
    the pattern must be a string literal (it defines the expression
    tree). Auto ``{}`` and positional ``{n}`` placeholders; ``{{``
    and ``}}`` escape literal braces."""
    if len(a) < 1:
        raise ValueError("format() needs a pattern argument")
    raw = a[0].strip()
    if not (len(raw) >= 2 and raw[0] == raw[-1] and raw[0] in "'\""):
        raise ValueError(
            "format(): the pattern must be a string literal (it is "
            "compiled into a concat expression); for dynamic "
            "patterns build the string with concat/replaceOne"
        )
    # collapse the SQL-literal quote escape so the emitted concat
    # literal does not double it again (it''s -> it's, re-escaped
    # once on output)
    pat = raw[1:-1].replace(raw[0] * 2, raw[0])
    args = a[1:]
    parts: list[str] = []
    lit = ""
    i, auto = 0, 0
    while i < len(pat):
        c = pat[i]
        if c == "{" and i + 1 < len(pat) and pat[i + 1] == "{":
            lit += "{"
            i += 2
            continue
        if c == "}" and i + 1 < len(pat) and pat[i + 1] == "}":
            lit += "}"
            i += 2
            continue
        if c == "{":
            end = pat.find("}", i)
            if end < 0:
                raise ValueError(
                    "format(): unmatched '{' in the pattern; escape "
                    "a literal brace as '{{'"
                )
            spec = pat[i + 1:end]
            idx = int(spec) if spec else auto
            if not spec:
                auto += 1
            if idx >= len(args):
                raise ValueError(
                    f"format(): placeholder {{{spec}}} has no "
                    f"argument (got {len(args)})"
                )
            if lit:
                parts.append("'" + lit.replace("'", "''") + "'")
                lit = ""
            parts.append(f"CAST({args[idx]} AS STRING)")
            i = end + 1
            continue
        lit += c
        i += 1
    if lit:
        parts.append("'" + lit.replace("'", "''") + "'")
    if not parts:
        return "''"
    return f"concat({', '.join(parts)})" if len(parts) > 1 else parts[0]


def _reinterpret_uint_builder(width_bytes: int, signed: bool):
    """reinterpretAs{U}Int8/16/32/64(x): CH keeps the in-memory
    bytes. For an INTEGER input that is the identity modulo 2^bits
    (the low N little-endian bytes ARE the value); for a STRING it
    is the first N bytes as a little-endian integer (missing bytes
    zero). Integer literals and runtime-numeric values take the
    mod path; string literals take the byte path; other expressions
    branch at runtime on decimal castability (a string column
    holding digit characters therefore routes numeric — byte-
    reinterpreting digit strings needs an explicit CAST to keep the
    byte path). Byte order flips by reassembling the hex pairs in
    reverse; the hex string is LET-bound so the source expression
    renders once."""

    def build(a: list[str]) -> str:
        if len(a) != 1:
            raise ValueError("reinterpret functions take one argument")
        x = a[0].strip()
        mod = 1 << (width_bytes * 8)
        num = f"CAST(pmod(CAST({x} AS DECIMAL(38,0)), {mod}) AS DECIMAL(20,0))"
        hx = f"substr(concat(hex({x}), repeat('00', {width_bytes})), 1, {width_bytes * 2})"
        le = (
            f"aggregate(sequence(1, {width_bytes}), '', "
            f"(__acc, __i) -> concat(substr(__hx, 2 * __i - 1, 2), __acc))"
        )
        by = (
            f"element_at(transform(array({hx}), __hx -> "
            f"CAST(conv({le}, 16, 10) AS DECIMAL(20,0))), 1)"
        )
        if re.fullmatch(r"[+-]?\d+", x):
            out = num
        elif re.fullmatch(r"'(?:[^']|'')*'", x):
            out = by
        else:
            out = (
                f"(CASE WHEN try_cast({x} AS DECIMAL(38,0)) IS NOT "
                f"NULL THEN {num} ELSE {by} END)"
            )
        if signed:
            # two's-complement re-interpretation of the top bit
            out = (
                f"CAST(IF({out} >= {mod // 2}, {out} - {mod}, {out}) "
                f"AS BIGINT)"
            )
        elif width_bytes < 8:
            out = f"CAST({out} AS BIGINT)"
        return out

    return build


def _cut_url_parameter(a: list[str]) -> str:
    """cutURLParameter(url, 'name'): drop the named query parameter.
    Two regex passes — interior occurrences keep their leading
    delimiter (lookbehind, trailing '&' consumed so the next pair
    slides left), then a final/only occurrence takes its leading
    '?'/'&' with it. The name must be a string literal: it is
    compiled into the pattern regex-escaped."""
    if len(a) != 2:
        raise ValueError("cutURLParameter() needs (url, name)")
    raw = a[1].strip()
    if not (len(raw) >= 2 and raw[0] == raw[-1] and raw[0] in "'\""):
        raise ValueError(
            "cutURLParameter(): the parameter name must be a string "
            "literal (it is compiled into the match pattern); for a "
            "dynamic name rebuild the query string with "
            "extractURLParameters + filter + concat"
        )
    import re as _re

    esc = _re.escape(raw[1:-1]).replace("\\", "\\\\").replace("'", "''")
    inner = (
        f"regexp_replace({a[0]}, "
        f"'(?<=[?&]){esc}(=[^&#]*)?&', '')"
    )
    return (
        f"regexp_replace({inner}, "
        f"'[?&]{esc}(=[^&#]*)?(?=#|$)', '')"
    )


def _stem_builder(a: list[str]) -> str:
    if len(a) != 2:
        raise ValueError("stem() needs (language, value) arguments")
    lang = a[0].strip().strip("'\"").lower()
    if lang not in ("en", "english"):
        raise ValueError(
            f"stem(): language {lang!r} needs Snowball rule files "
            "that don't ship with the engine; only 'en' (the "
            "published Porter 1980 algorithm) is implemented"
        )
    return f"bh_porter_stem({a[1]})"


def _one_str_arg(fn: str, a: list[str]) -> str:
    """Single-argument contract for the bit-exact interop hashes:
    their value IS the spec, and CH's multi-argument combining rule
    differs per function — refuse rather than guess."""
    if len(a) != 1:
        raise ValueError(
            f"{fn}() is implemented bit-exact for ONE String "
            f"argument; for a multi-column key, concatenate "
            f"explicitly (e.g. {fn}(concat_ws('\\\\0', a, b))) so "
            f"the bytes being hashed are unambiguous"
        )
    return a[0]


def _map_agg_fold(a: list[str], merge: str) -> str:
    """sum/min/maxMap over a MAP column: fold the group's collected
    maps with map_zip_with (missing keys behave like CH: they take
    the other side's value via coalesce/greatest/least NULL-skip),
    result keys sorted like CH. Same group-state caveat as -ForEach
    (O(rows_in_group × map size) at the collect — posexplode +
    GROUP BY key for huge groups). The CH two-argument
    ``sumMap(keys, vals)`` form returns a TUPLE of arrays: it folds
    the same map built per-row with map_from_arrays and splits the
    result back into (keys, values). Per-row duplicate keys raise
    (Spark's map-key policy) — CH merges them; dedupe upstream."""
    if len(a) == 2:
        inner = _map_agg_fold(
            [f"map_from_arrays({a[0]}, {a[1]})"], merge
        )
        return (
            f"named_struct('keys', map_keys({inner}), "
            f"'values', map_values({inner}))"
        )
    if len(a) != 1:
        raise ValueError(
            "sumMap/minMap/maxMap take a Map column or the "
            "(keys, values) two-array form"
        )
    cl = f"collect_list({a[0]})"
    folded = (
        f"aggregate(slice({cl}, 2, greatest(size({cl}) - 1, 0)), "
        f"element_at({cl}, 1), (__acc, __m) -> "
        f"map_zip_with(__acc, __m, {merge}))"
    )
    return (
        f"CASE WHEN size({cl}) = 0 THEN map() "
        f"ELSE map_from_entries(array_sort(map_entries({folded}))) END"
    )


def _initialize_aggregation(a: list[str]) -> str:
    """initializeAggregation('nameState', v[, ...]): build the state
    one row's value would produce. Name must be a literal (CH too).
    States follow this engine's partial-is-the-value convention."""
    if len(a) < 2:
        raise ValueError(
            "initializeAggregation('aggState', value) takes the "
            "literal state name and the value"
        )
    name = _unquote(a[0]).strip()
    v = a[1]
    low = name.lower()
    if low in ("sumstate", "minstate", "maxstate", "anystate",
               "anylaststate"):
        return f"({v})"
    if low == "countstate":
        return f"IF(({v}) IS NULL, CAST(0 AS BIGINT), CAST(1 AS BIGINT))"
    if low == "avgstate":
        return (
            f"named_struct('sum', CAST({v} AS DOUBLE), "
            f"'count', IF(({v}) IS NULL, CAST(0 AS BIGINT), "
            f"CAST(1 AS BIGINT)))"
        )
    if low in ("grouparraystate", "quantilestate", "quantilesstate",
               "medianstate", "uniqexactstate", "groupuniqarraystate",
               "topkstate"):
        return f"IF(({v}) IS NULL, array(), array({v}))"
    raise ValueError(
        f"initializeAggregation: state {name!r} has no per-row "
        "expression here (uniqState's HLL sketch is aggregate-only); "
        "served: sum/min/max/any/count/avg/groupArray/groupUniqArray/"
        "quantile(s)/median/topK/uniqExact -State"
    )


def _sum_map_filtered(p: list[str], a: list[str]) -> str:
    """sumMapFiltered(keys_to_keep)(...): both CH argument shapes —
    the (keys, values) two-array form (returns the Tuple-of-arrays
    struct like sumMap) and the Map-column form. The filter runs
    per row BEFORE the group fold, so dropped keys never enter the
    aggregate state (round-11 probe fix: the old path fed map_filter
    an ARRAY for the two-array form and died in analysis)."""
    merge = "(__k, __a, __b) -> coalesce(__a, 0) + coalesce(__b, 0)"
    if len(a) == 2:
        filtered = (
            f"map_filter(map_from_arrays({a[0]}, {a[1]}), "
            f"(__k, __v) -> array_contains({p[0]}, __k))"
        )
        inner = _map_agg_fold([filtered], merge)
        return (
            f"named_struct('keys', map_keys({inner}), "
            f"'values', map_values({inner}))"
        )
    return _map_agg_fold(
        [
            f"map_filter({a[0]}, (__k, __v) -> "
            f"array_contains({p[0]}, __k))"
        ],
        merge,
    )


def _map_agg_if(a: list[str], merge: str) -> str:
    """-If over sum/min/maxMap: both CH argument shapes with a
    trailing condition — (map, cond) folds the map rows passing
    cond; (keys, values, cond) returns the Tuple-of-arrays struct
    like the two-array sumMap."""
    if len(a) == 2:
        return _map_agg_fold(
            [f"CASE WHEN ({a[1]}) THEN ({a[0]}) END"], merge
        )
    if len(a) == 3:
        inner = _map_agg_fold(
            [
                f"CASE WHEN ({a[2]}) THEN "
                f"map_from_arrays({a[0]}, {a[1]}) END"
            ],
            merge,
        )
        return (
            f"named_struct('keys', map_keys({inner}), "
            f"'values', map_values({inner}))"
        )
    raise ValueError(
        "sum/min/maxMapIf(map, cond) or (keys, values, cond)"
    )


def _foreach_intersect(x: str) -> str:
    cl = f"collect_list({x})"
    return (
        f"CASE WHEN size({cl}) = 0 THEN array() "
        f"ELSE aggregate(slice({cl}, 2, greatest(size({cl}) - 1, 0)), "
        f"element_at({cl}, 1), (__acc, __x) -> "
        f"array_intersect(__acc, __x)) END"
    )


def _foreach_fold(x: str, merge: str) -> str:
    """-ForEach combinator body: fold the group's collected arrays
    element-wise with ``merge``; empty input → array() (not an ANSI
    INVALID_ARRAY_INDEX from the element_at seed). Catalyst dedups
    the repeated collect_list aggregate, so it's computed once."""
    cl = f"collect_list({x})"
    return (
        f"CASE WHEN size({cl}) = 0 THEN array() "
        f"ELSE aggregate(slice({cl}, 2, greatest(size({cl}) - 1, 0)), "
        f"element_at({cl}, 1), (__acc, __x) -> "
        f"zip_with(__acc, __x, {merge})) END"
    )


def _ho_too_many(fn: str, args: list[str]) -> str:
    raise ValueError(
        f"{fn}: lambdas over more than two arrays are not "
        "transpiled — zip the extra arrays explicitly "
        "(arrayZip / arrays_zip) and destructure in the lambda"
    )


def _pair_sized(x: str, y: str) -> str:
    """Second operand of a multi-array lambda zip, length-checked:
    CH raises SIZES_OF_ARRAYS_DONT_MATCH when the arrays differ in
    length, while Spark's ``zip_with`` silently null-pads the short
    one — a silent-wrong-value divergence on malformed input. The
    CASE keeps NULL inputs NULL (both CH with Nullable arrays and
    Spark return NULL for a NULL operand) and raises CH's error
    name otherwise. ``raise_error``'s NullType coerces to the array
    branch type, and a CASE whose ELSE can throw is never folded
    away by Catalyst.

    Both operands are bound ONCE (a single-element named_struct
    array; the guard and the returned value read the SAME bound
    fields through the transform lambda), so a nondeterministic
    operand (shuffle()/rand()) can no longer pass the length check
    yet zip a DIFFERENT evaluation — the ADVICE r13 double-
    evaluation hazard — and each operand is interpolated once, so
    nested multi-array lambdas no longer grow the generated SQL ~3x
    per level. The lambda variable carries a deterministic
    per-operand suffix: nested expansions have different operand
    text, so inner and outer variables never shadow (and the SQL
    stays byte-stable for plan-hash pins)."""
    import zlib

    tag = zlib.crc32(f"{x}|{y}".encode()) & 0xFFFF
    v = f"__ps{tag:04x}"
    return (
        f"element_at(transform("
        f"array(named_struct('a', {x}, 'b', {y})), "
        f"{v} -> CASE WHEN {v}.a IS NULL OR {v}.b IS NULL "
        f"OR size({v}.a) = size({v}.b) THEN {v}.b "
        f"ELSE raise_error('SIZES_OF_ARRAYS_DONT_MATCH: multi-array "
        f"lambda arguments must be arrays of identical length') END"
        f"), 1)"
    )


def _ho_mask_filter(a: list[str]) -> str:
    """CH two-array predicate over ``a[1]`` (elements kept where the
    lambda over (a[1], a[2]) pairs is true): Spark's filter only
    takes one array, so evaluate the pair-lambda via zip_with into a
    boolean mask and filter by index."""
    return (
        f"filter({a[1]}, (__hx, __hi) -> "
        f"element_at(zip_with({a[1]}, {_pair_sized(a[1], a[2])}, "
        f"{a[0]}), __hi + 1))"
    )


def _array_count(args: list[str]) -> str:
    if len(args) == 1:
        return f"size(filter({args[0]}, x -> x != 0))"
    if len(args) == 2:
        return f"size(filter({args[1]}, {args[0]}))"
    if len(args) == 3:
        return (
            f"size(filter(zip_with({args[1]}, "
            f"{_pair_sized(args[1], args[2])}, {args[0]}), "
            f"__hb -> __hb))"
        )
    return _ho_too_many("arrayCount", args)


# CH call shapes that need argument reordering / restructuring, not a
# rename. CH higher-order functions put the lambda FIRST
# (arrayMap(x -> ..., arr)); Spark puts the array first. Lambda syntax
# (`x -> expr`, `(x, y) -> expr`) is identical in both dialects, so
# the lambda text passes through untouched.
def _to_start_of_interval(a: list[str]) -> str:
    m = re.match(
        r"(?i)INTERVAL\s+(\d+)\s+(SECOND|MINUTE|HOUR|DAY)S?$",
        a[1].strip(),
    )
    if not m:
        raise ValueError(
            "toStartOfInterval: only INTERVAL n SECOND/MINUTE/HOUR/DAY "
            "is transpiled (calendar units don't have fixed-second "
            "floors — use toStartOfMonth/Quarter/Year)"
        )
    n, unit = int(m.group(1)), m.group(2).upper()
    secs = n * {"SECOND": 1, "MINUTE": 60, "HOUR": 3600, "DAY": 86400}[unit]
    return (
        f"timestamp_seconds(CAST(floor(unix_timestamp({a[0]}) / {secs})"
        f" * {secs} AS BIGINT))"
    )


def _tuple_element(a: list[str]) -> str:
    if len(a) != 2 or not re.match(r"^\d+$", a[1].strip()):
        raise ValueError(
            "tupleElement: only a literal 1-based index is transpiled "
            "(unnamed Spark structs expose col1, col2, ...); use dot "
            "access for named tuples"
        )
    return f"({a[0]}).col{a[1].strip()}"


def _date_name(a: list[str]) -> str:
    fmt = {
        "year": "yyyy", "month": "MMMM", "weekday": "EEEE",
        "quarter": "QQQ", "hour": "H", "minute": "m", "second": "s",
    }.get(_unquote(a[0]).lower())
    if fmt is None:
        raise ValueError(
            f"dateName: unit {a[0]} not transpiled (year/month/weekday/"
            "quarter/hour/minute/second are)"
        )
    return f"date_format({a[1]}, '{fmt}')"


_UINT_MAX = {
    "uint8": 255,
    "uint16": 65535,
    "uint32": 4294967295,
    "uint64": None,  # >= 0 only; the upper half is the documented
    # UInt64-widening deviation
}


def _strip_type_wrappers(ch_t: str) -> str:
    """Peel Nullable(...)/LowCardinality(...) down to the inner CH
    type name (the range gate must see 'uint8' inside
    'Nullable(UInt8)')."""
    t = ch_t.strip()
    while True:
        m = re.match(
            r"^(?:nullable|lowcardinality)\((.*)\)$", t, re.IGNORECASE
        )
        if not m:
            return t
        t = m.group(1).strip()


def _accurate_cast_or_null(a: list[str]) -> str:
    from bighouse_spark.dialect.schema import ch_type_to_spark

    ch_t = _unquote(a[1])
    t = ch_type_to_spark(ch_t).simpleString()
    base = f"TRY_CAST({a[0]} AS {t})"
    # CH range-checks unsigned targets (accurateCastOrNull(300,
    # 'UInt8') is NULL); Spark's widened signed type would let the
    # value through, so gate it like the toUIntNOr* family —
    # including Nullable/LowCardinality-wrapped spellings.
    hi = _UINT_MAX.get(_strip_type_wrappers(ch_t).lower(), -1)
    if hi != -1:
        cond = "__v >= 0" + (f" AND __v <= {hi}" if hi else "")
        return (
            f"element_at(transform(array({base}), "
            f"__v -> IF({cond}, __v, CAST(NULL AS {t}))), 1)"
        )
    return base


def _accurate_cast_or_default(a: list[str]) -> str:
    if len(a) not in (2, 3):
        raise ValueError(
            "accurateCastOrDefault(x, 'Type'[, default]) takes two "
            "or three arguments"
        )
    from bighouse_spark.dialect.schema import ch_type_to_spark

    spark_t = ch_type_to_spark(_unquote(a[1]))
    t = spark_t.simpleString()
    if len(a) == 3:
        dflt = f"CAST({a[2]} AS {t})"
    else:
        # CH's 2-arg form falls back to the TYPE's default value.
        inner = _strip_type_wrappers(_unquote(a[1])).lower()
        if inner.startswith(("uint", "int", "float", "decimal")):
            dflt = f"CAST(0 AS {t})"
        elif inner in ("string", "fixedstring") or inner.startswith(
            "fixedstring"
        ):
            dflt = "''"
        elif inner.startswith("date"):
            dflt = (
                f"CAST(TIMESTAMP'1970-01-01' AS {t})"
                if "time" in inner
                else f"CAST(DATE'1970-01-01' AS {t})"
            )
        elif inner in ("bool", "boolean"):
            dflt = "false"
        else:
            raise ValueError(
                f"accurateCastOrDefault: no type default for "
                f"{a[1]}; pass the 3-argument form with an explicit "
                "default"
            )
    return f"coalesce({_accurate_cast_or_null(a[:2])}, {dflt})"


def _format_readable_size(a: list[str]) -> str:
    x = f"CAST({a[0]} AS DOUBLE)"
    units = [("B", 1.0), ("KiB", 1024.0), ("MiB", 1024.0**2),
             ("GiB", 1024.0**3), ("TiB", 1024.0**4)]
    parts = ["CASE"]
    for unit, div in units:
        parts.append(
            f"WHEN abs({x}) < {div * 1024} THEN "
            f"concat(format_string('%.2f', {x} / {div}), ' {unit}')"
        )
    parts.append(
        f"ELSE concat(format_string('%.2f', {x} / {1024.0**5}), ' PiB') END"
    )
    return "(" + " ".join(parts) + ")"


def _format_readable_quantity(a: list[str]) -> str:
    x = f"CAST({a[0]} AS DOUBLE)"
    return (
        f"(CASE WHEN abs({x}) < 1e3 THEN format_string('%.2f', {x}) "
        f"WHEN abs({x}) < 1e6 THEN "
        f"concat(format_string('%.2f', {x} / 1e3), ' thousand') "
        f"WHEN abs({x}) < 1e9 THEN "
        f"concat(format_string('%.2f', {x} / 1e6), ' million') "
        f"WHEN abs({x}) < 1e12 THEN "
        f"concat(format_string('%.2f', {x} / 1e9), ' billion') "
        f"ELSE concat(format_string('%.2f', {x} / 1e12), ' trillion') END)"
    )


_ARRAY_REDUCE_MAP = {
    "sum": lambda arr: (
        f"aggregate({arr}, CAST(0 AS DOUBLE), (__a, __x) -> __a + __x)"
    ),
    "min": lambda arr: f"array_min({arr})",
    "max": lambda arr: f"array_max({arr})",
    "avg": lambda arr: (
        f"(aggregate({arr}, CAST(0 AS DOUBLE), (__a, __x) -> __a + __x) "
        f"/ size({arr}))"
    ),
    "count": lambda arr: f"size({arr})",
    "any": lambda arr: f"try_element_at({arr}, 1)",
    "anylast": lambda arr: f"try_element_at({arr}, -1)",
    "uniqexact": lambda arr: f"size(array_distinct({arr}))",
    "uniq": lambda arr: f"size(array_distinct({arr}))",
}


def _array_reduce(a: list) -> str:
    """arrayReduce('agg', arr): apply a named aggregate to an array's
    elements — supported for the decomposable aggregates above."""
    name = _unquote(a[0]).lower()
    if name not in _ARRAY_REDUCE_MAP:
        raise ValueError(
            f"arrayReduce: unsupported aggregate {name!r} "
            f"(supported: {sorted(_ARRAY_REDUCE_MAP)})"
        )
    return _ARRAY_REDUCE_MAP[name](a[1])


class _SkipRewrite(Exception):
    """Raised by an _ARG_REWRITES builder to leave a call untouched
    (the spelling is context-dependent and this shape is native)."""


def _retention_builder(a: list) -> str:
    """retention(cond1, ..., condN) → Array(UInt8): element 1 is
    whether cond1 held on ANY row of the group; element k is
    cond1-anywhere AND condk-anywhere (CH AggregateFunctionRetention
    ORs each condition across rows, then ANDs with the first)."""
    if not a:
        raise ValueError("retention() needs at least one condition")
    flags = [
        f"max(IF(coalesce(CAST({c} AS BOOLEAN), false), 1, 0))"
        for c in a
    ]
    elems = [f"CAST({flags[0]} AS TINYINT)"]
    elems += [
        f"CAST(least({flags[0]}, {f}) AS TINYINT)" for f in flags[1:]
    ]
    return f"array({', '.join(elems)})"


_WF_MODES = {
    "strict_order": "strict_order",
    "strict_deduplication": "strict_deduplication",
    "strict_dedup": "strict_deduplication",
    "strict": "strict_deduplication",  # pre-21.x CH alias
    "strict_increase": "strict_increase",
}

# strict_order must buffer EVERY event of a group (non-matching
# events are chain-breakers), so a skewed key buffers its whole
# stream — unlike the other modes, whose collect is pre-filtered to
# relevant events. Guard that documented hazard at runtime: when a
# group exceeds this many events the query raises a guided error
# naming the setting. NOTE the guard is a detector, not a memory
# bound — both IF branches are aggregates, so the group is fully
# buffered before the count is compared; it turns a silently-slow
# (or OOM-adjacent) query into a loud, attributable failure. OUR
# setting (no CH analog): SETTINGS max_funnel_group_events=N per
# query; 0 disables.
_FUNNEL_GROUP_CAP: contextvars.ContextVar[int] = contextvars.ContextVar(
    "bh_funnel_group_cap", default=10_000_000
)


def _window_funnel_builder(p: list[str], a: list[str]) -> str:
    """windowFunnel(window[, modes...])(ts, cond1, ..., condN) → the
    deepest funnel level reached by an ordered chain whose k-th event
    satisfies cond_k and whose span t_k − t_1 stays within ``window``.

    Mirrors ClickHouse AggregateFunctionWindowFunnel's ENTRY model:
    each row contributes one (t, k) entry per matched condition k
    (plus a k=0 entry for no-match rows under strict_order, like
    CH's event number 0), the entries sort by (t, k), and a single
    aggregate() fold walks them. The state carries, per level k, the
    LATEST chain-anchor timestamp t_1 that has completed levels
    1..k — the latest anchor dominates (every remaining
    within-window check t − t_1 ≤ window is easiest for the most
    recent t_1, so a chain that restarts on a later cond_1 entry is
    never lost). An entry advances level k when level k−1 is reached
    and the entry is within window of that chain's anchor. Rows
    matching NO condition contribute no entries (CH feeds the
    aggregate only set condition bits) — except under strict_order.

    The per-condition explode gives CH's exact tie semantics for
    free: a row matching cond_{k−1} AND cond_k advances both levels
    (its k−1 entry processes first), strict_increase blocks the
    same-row chain (t > t fails), and at an exactly equal timestamp
    entries from two different multi-condition rows interleave by
    condition number, just as CH's sorted (timestamp, event) walk
    does.

    Modes (CH AggregateFunctionWindowFunnel semantics):
    - strict_order: an entry matching no condition, arriving after
      the chain has started, STOPS processing; levels reached so far
      stand. Likewise an OUT-OF-ORDER funnel entry — a condition
      whose predecessor level is unreached — after the chain start
      (CH's events_timestamp[event_idx-1]-empty branch).
    - strict_deduplication (aliases strict_dedup, strict): a repeat
      of a condition whose level is already reached stops processing
      and the result is that condition's level — even if a deeper
      level was reached before (CH returns the repeated event's
      number). A fully completed funnel is immune (CH early-returns
      N before seeing the repeat). cond_1 repeats only refresh the
      anchor.
    - strict_increase: each chain step needs a strictly larger
      timestamp than the previous step's own entry (not the anchor).
    """
    if not p:
        raise ValueError(
            "windowFunnel needs a window parameter: "
            "windowFunnel(window)(ts, cond1, ...)"
        )
    modes: set[str] = set()
    for mp in p[1:]:
        mm = _unquote(mp.strip()).lower()
        if mm == "strict_once":
            raise ValueError(
                "windowFunnel 'strict_once' ships in ClickHouse >= "
                "24.1, newer than the reference's pinned CH 23.6 — "
                "not served; strict_deduplication is the closest "
                "23.6 mode (truncates on a repeated condition)"
            )
        if mm not in _WF_MODES:
            raise ValueError(
                f"windowFunnel mode {mm!r} is not one of "
                "strict_order, strict_deduplication (strict_dedup), "
                "strict_increase"
            )
        modes.add(_WF_MODES[mm])
    s_order = "strict_order" in modes
    s_dedup = "strict_deduplication" in modes
    s_incr = "strict_increase" in modes
    if len(a) < 2:
        raise ValueError(
            "windowFunnel(window)(timestamp, cond1[, ...]) needs a "
            "timestamp and at least one condition"
        )
    window = p[0]
    ts, conds = a[0], a[1:]
    n = len(conds)
    ninf = "CAST('-Infinity' AS DOUBLE)"
    flag = [
        f"coalesce(CAST({c} AS BOOLEAN), false)" for c in conds
    ]
    # Per-row candidate entries: (t, k) for each condition k the row
    # matches, filtered to the matched ones; under strict_order a
    # k=0 entry stands in for a no-match row (sorts ahead at equal
    # t, like CH's event number 0). flatten(collect_list(...)) then
    # array_sort gives CH's sorted (timestamp, event) entry list.
    tcast = f"CAST({ts} AS DOUBLE)"
    notnull = f"({ts}) IS NOT NULL"
    cand = [
        f"named_struct('t', {tcast}, 'k', {k}, "
        f"'m', {notnull} AND {flag[k - 1]})"
        for k in range(1, n + 1)
    ]
    if s_order:
        nomatch = " OR ".join(flag)
        cand.append(
            f"named_struct('t', {tcast}, 'k', 0, "
            f"'m', {notnull} AND NOT ({nomatch}))"
        )
    arr = (
        f"array_sort(flatten(collect_list("
        f"filter(array({', '.join(cand)}), __m -> __m.m))))"
    )
    init_fields = [f"'a{k}', {ninf}" for k in range(1, n + 1)]
    if s_incr:
        init_fields += [f"'b{k}', {ninf}" for k in range(2, n + 1)]
    if s_order or s_dedup:
        init_fields.append("'done', false")
    if s_dedup:
        init_fields.append("'ret', 0")
    init = f"named_struct({', '.join(init_fields)})"
    a_list = ", ".join(f"__acc.a{k}" for k in range(1, n + 1))
    # Repeated-condition truncation (pre-entry state; CH checks the
    # entry's OWN slot before advancing — cond1 repeats exempt).
    # Nested CASE keeps element_at's index in 1..n under ANSI mode.
    if s_dedup and n >= 2:
        trunc = (
            f"(CASE WHEN __e.k >= 2 THEN "
            f"IF(element_at(array({a_list}), __e.k) > {ninf}, "
            f"__e.k, 0) ELSE 0 END)"
        )
    else:
        trunc = "0"
    halt = None
    if s_order or s_dedup:
        halt = f"(__acc.done OR __acc.a{n} > {ninf})"
    guard = halt
    if s_dedup:
        guard = f"({halt} OR ({trunc}) > 0)"

    def state_struct(updated: bool) -> str:
        out = []
        if updated:
            out.append("'a1', IF(__e.k = 1, __e.t, __acc.a1)")
        else:
            out.append("'a1', __acc.a1")
        advs: dict[int, str] = {}
        for k in range(2, n + 1):
            prev_a = f"__acc.a{k - 1}"
            parts = [
                f"__e.k = {k}", f"{prev_a} > {ninf}",
                f"__e.t - {prev_a} <= ({window})",
            ]
            if s_incr:
                prev_b = "__acc.a1" if k == 2 else f"__acc.b{k - 1}"
                parts.append(f"__e.t > {prev_b}")
            advs[k] = "(" + " AND ".join(parts) + ")"
            if updated:
                out.append(
                    f"'a{k}', IF({advs[k]}, {prev_a}, __acc.a{k})"
                )
            else:
                out.append(f"'a{k}', __acc.a{k}")
        if s_incr:
            for k in range(2, n + 1):
                if updated:
                    out.append(
                        f"'b{k}', IF({advs[k]}, __e.t, __acc.b{k})"
                    )
                else:
                    out.append(f"'b{k}', __acc.b{k}")
        if s_order or s_dedup:
            done_parts = ["__acc.done", f"__acc.a{n} > {ninf}"]
            if s_order:
                # No-match entry after the chain start halts; before
                # the start it is ignored (CH continues).
                done_parts.append(
                    f"(__e.k = 0 AND __acc.a1 > {ninf})"
                )
                if updated and n >= 2:
                    # CH's second strict_order halt: an out-of-order
                    # funnel entry (predecessor level unreached)
                    # after the chain start stops processing.
                    done_parts.append(
                        f"(CASE WHEN __e.k >= 2 "
                        f"AND __acc.a1 > {ninf} THEN "
                        f"NOT (element_at(array({a_list}), "
                        f"__e.k - 1) > {ninf}) ELSE false END)"
                    )
            if s_dedup:
                done_parts.append(f"({trunc}) > 0")
            out.append(f"'done', {' OR '.join(done_parts)}")
        if s_dedup:
            out.append(
                f"'ret', IF(__acc.ret > 0 OR {halt}, __acc.ret, "
                f"{trunc})"
            )
        return f"named_struct({', '.join(out)})"

    body = state_struct(updated=True)
    if guard:
        body = f"IF({guard}, {state_struct(updated=False)}, {body})"
    level = "CASE " + " ".join(
        f"WHEN __acc.a{k} > {ninf} THEN {k}"
        for k in range(n, 0, -1)
    ) + " ELSE 0 END"
    if s_dedup:
        final = (
            f"CASE WHEN __acc.ret > 0 THEN __acc.ret "
            f"ELSE {level} END"
        )
    else:
        final = level
    agg = (
        f"aggregate({arr}, {init}, "
        f"(__acc, __e) -> {body}, "
        f"__acc -> CAST({final} AS INT))"
    )
    cap = _FUNNEL_GROUP_CAP.get()
    if s_order and cap > 0:
        msg = (
            "windowFunnel strict_order buffers every event of a "
            "group (non-matching events are chain-breakers); a group "
            f"exceeded max_funnel_group_events={cap} — raise the "
            "setting (SETTINGS max_funnel_group_events=N, 0 "
            "disables) or drop strict_order"
        )
        agg = (
            f"IF(count(CASE WHEN {notnull} THEN 1 END) > {cap}, "
            f"CAST(raise_error('{msg}') AS INT), {agg})"
        )
    return agg




_SEQ_PATTERN_RE = re.compile(
    r"\(\?(\d+)\)|\.\*"
    r"|\(\?t\s*(<=|>=|==|<|>|=)\s*(\d+(?:\.\d+)?)\)"
)


def _parse_seq_pattern(
    pattern: str, n_conds: int
) -> tuple[list[int], list[dict]]:
    """Parse a sequenceMatch/Count pattern into condition refs plus
    per-transition specs. Tokens (the full CH grammar): ``(?N)``
    condition refs, ``.*`` (any number of intervening events),
    ``(?t op secs)`` time constraints between the two neighboring
    refs. Refs with NOTHING between them are ADJACENT in the stored
    event stream — which, per CH, contains only rows matching at
    least one listed condition (undescribed events are invisible;
    the documented (?1)(?2) example).

    Returns (refs, transitions) where transitions[i] constrains how
    ref i+1 follows ref i: {"gap": bool, "op": str|None,
    "secs": str|None}."""
    pat = pattern.strip().strip("'\"")
    refs: list[int] = []
    trans: list[dict] = []
    pending = {"gap": False, "op": None, "secs": None}
    pos = 0
    while pos < len(pat):
        if pat[pos].isspace():
            pos += 1
            continue
        m = _SEQ_PATTERN_RE.match(pat, pos)
        if not m:
            raise ValueError(
                f"sequenceMatch/sequenceCount pattern {pat!r}: "
                f"unsupported token at position {pos} — the grammar "
                "is (?N) refs, .* separators and (?t op secs) time "
                "constraints"
            )
        tok = m.group(0)
        if tok == ".*":
            pending["gap"] = True
        elif tok.startswith("(?t"):
            if pending["op"] is not None:
                raise ValueError(
                    "sequenceMatch/sequenceCount: at most one "
                    "(?t op N) time constraint between two refs is "
                    "supported (an existential scan can serve one "
                    "bound, not an intersection)"
                )
            op = m.group(2)
            pending["op"] = "=" if op == "==" else op
            pending["secs"] = m.group(3)
        else:
            k = int(m.group(1))
            if not 1 <= k <= n_conds:
                raise ValueError(
                    f"pattern refers to (?{k}) but only {n_conds} "
                    "condition(s) were passed"
                )
            if refs:
                trans.append(pending)
            elif pending["op"] is not None:
                raise ValueError(
                    "sequenceMatch/sequenceCount: a (?t op N) time "
                    "constraint needs a condition ref on BOTH sides"
                )
            pending = {"gap": False, "op": None, "secs": None}
            refs.append(k)
        pos = m.end()
    if pending["op"] is not None:
        raise ValueError(
            "sequenceMatch/sequenceCount: a (?t op N) time "
            "constraint needs a condition ref on BOTH sides"
        )
    if not refs:
        raise ValueError("pattern contains no (?N) condition refs")
    for t in trans:
        if t["gap"] and t["op"] == "=":
            raise ValueError(
                "sequenceMatch/sequenceCount: (?t==N) across a .* "
                "gap is not supported (needs the full end-position "
                "set); drop the .* for the adjacent form"
            )
    return refs, trans


def _seq_event_array(ts: str, conds: list[str]) -> str:
    """Sorted per-group event array for the sequence folds, filtered
    to rows matching at least one condition — exactly CH's stored
    stream (undescribed events are invisible to the pattern), and it
    keeps per-group fold state proportional to RELEVANT events, not
    the whole event stream."""
    fields = [f"'t', CAST({ts} AS DOUBLE)"]
    flag = [
        f"coalesce(CAST({c} AS BOOLEAN), false)" for c in conds
    ]
    # Deterministic tie-break at equal timestamps: lowest matching
    # condition first (CH's tie order is unspecified; this is the
    # same choice the windowFunnel fold makes).
    kexpr = "CASE " + " ".join(
        f"WHEN {flag[i]} THEN {i + 1}" for i in range(len(conds))
    ) + " ELSE 0 END"
    fields.append(f"'k', {kexpr}")
    for k in range(1, len(conds) + 1):
        fields.append(f"'c{k}', {flag[k - 1]}")
    return (
        f"array_sort(collect_list(CASE WHEN ({ts}) IS NOT NULL "
        f"AND ({' OR '.join(flag)}) THEN "
        f"named_struct({', '.join(fields)}) END))"
    )


def _sequence_fold(a: list[str], refs: list[int], count: bool) -> str:
    """Shared fold for sequenceMatch (existence) / sequenceCount
    (greedy non-overlapping) over the ``.*``-separated subset: sorted
    collect, then a level counter that advances on each next needed
    condition; completing the chain increments the count and resets
    (sequenceCount), or latches (sequenceMatch)."""
    ts, conds = a[0], a[1:]
    arr = _seq_event_array(ts, conds)
    m = len(refs)
    # need[l] = condition index required to advance from level l
    adv = " ".join(
        f"WHEN __acc.lvl = {lv} AND __e.c{refs[lv]} "
        f"THEN {lv + 1}"
        for lv in range(m)
    )
    step = f"CASE {adv} ELSE __acc.lvl END"
    if count:
        body = (
            f"named_struct('lvl', IF(({step}) = {m}, 0, {step}), "
            f"'n', __acc.n + IF(({step}) = {m}, 1, 0))"
        )
        init = "named_struct('lvl', 0, 'n', CAST(0 AS BIGINT))"
        final = "__acc -> __acc.n"
    else:
        body = (
            f"named_struct('lvl', IF(__acc.lvl = {m}, {m}, {step}))"
        )
        init = "named_struct('lvl', 0)"
        final = f"__acc -> CAST(__acc.lvl = {m} AS BOOLEAN)"
    return f"aggregate({arr}, {init}, (__acc, __e) -> {body}, {final})"


def _sequence_reach_fold(
    a: list[str], refs: list[int], trans: list[dict],
    count: bool = False,
) -> str:
    """sequenceMatch fold for patterns with ADJACENT refs and/or
    (?t op N) time constraints: a reachability DP over the sorted
    per-group stream. For each pattern prefix of length k the state
    carries the earliest end timestamp (``e``), the latest end
    timestamp (``l``), and whether the prefix ended exactly at the
    previous stream position (``p`` — when true, that end's
    timestamp IS ``l``, the latest). That triple decides every
    supported transition existentially:

    - adjacency: prefix k−1 ended at the previous position
      (optionally with t − l op secs);
    - ``.*`` gap, no time bound: ever reached (l > −inf);
    - gap with < / <=: the LATEST end is the easiest witness;
    - gap with > / >=: the EARLIEST end is the easiest witness.

    All new prefix-ends at the current position derive from the
    pre-event state, so a ref never consumes the same event as its
    predecessor — one event per pattern element, as in CH's
    backtracking matcher.

    ``count=True`` (sequenceCount) adds a match counter with
    RESET-ON-COMPLETE: when the full pattern first completes, the
    counter increments and every prefix state clears, so no event is
    reused across matches — earliest-end greedy non-overlapping
    counting, the same statistic the ``.*``-subset level fold
    computes (and CH's lazy KleeneStar matcher yields)."""
    ts, conds = a[0], a[1:]
    arr = _seq_event_array(ts, conds)
    m = len(refs)
    ninf = "CAST('-Infinity' AS DOUBLE)"
    pinf = "CAST('Infinity' AS DOUBLE)"
    init_fields = [
        f"'e{k}', {pinf}, 'l{k}', {ninf}, 'p{k}', false"
        for k in range(1, m + 1)
    ]
    if count:
        init_fields.append("'n', CAST(0 AS BIGINT)")
    init = "named_struct(" + ", ".join(init_fields) + ")"
    new_end = {1: f"__e.c{refs[0]}"}
    for k in range(2, m + 1):
        t = trans[k - 2]
        op, secs = t["op"], t["secs"]
        if t["gap"]:
            if op is None:
                chk = f"__acc.l{k - 1} > {ninf}"
            elif op in ("<", "<="):
                chk = (
                    f"__acc.l{k - 1} > {ninf} AND "
                    f"__e.t - __acc.l{k - 1} {op} ({secs})"
                )
            else:  # > or >=
                chk = (
                    f"__acc.e{k - 1} < {pinf} AND "
                    f"__e.t - __acc.e{k - 1} {op} ({secs})"
                )
        else:
            chk = f"__acc.p{k - 1}"
            if op is not None:
                chk += f" AND __e.t - __acc.l{k - 1} {op} ({secs})"
        new_end[k] = f"(__e.c{refs[k - 1]} AND {chk})"
    upd = []
    complete = new_end[m] if count else None
    for k in range(1, m + 1):
        ne = new_end[k]
        e_u = f"IF({ne}, least(__acc.e{k}, __e.t), __acc.e{k})"
        l_u = f"IF({ne}, __e.t, __acc.l{k})"
        p_u = ne
        if count:
            # the completing event is consumed: clear every prefix
            e_u = f"IF({complete}, {pinf}, {e_u})"
            l_u = f"IF({complete}, {ninf}, {l_u})"
            p_u = f"(NOT ({complete}) AND {ne})"
        upd.append(f"'e{k}', {e_u}")
        upd.append(f"'l{k}', {l_u}")
        upd.append(f"'p{k}', {p_u}")
    if count:
        upd.append(f"'n', __acc.n + IF({complete}, 1, 0)")
        final = "__acc -> __acc.n"
    else:
        final = f"__acc -> CAST(__acc.l{m} > {ninf} AS BOOLEAN)"
    return (
        f"aggregate({arr}, {init}, "
        f"(__acc, __e) -> named_struct({', '.join(upd)}), {final})"
    )


def _sequence_match_builder(p: list[str], a: list[str],
                            count: bool) -> str:
    name = "sequenceCount" if count else "sequenceMatch"
    if len(p) != 1:
        raise ValueError(f"{name}('pattern')(ts, cond1, ...)")
    if len(a) < 2:
        raise ValueError(
            f"{name} needs a timestamp and at least one condition"
        )
    refs, trans = _parse_seq_pattern(p[0], len(a) - 1)
    simple = all(t["gap"] and t["op"] is None for t in trans)
    if simple:
        return _sequence_fold(a, refs, count)
    return _sequence_reach_fold(a, refs, trans, count=count)


def _array_flatten_builder(a: list) -> str:
    """CH arrayFlatten flattens to ANY depth; Spark's flatten peels
    one level. When the argument is a (rewritten) nested array
    literal the depth is visible syntactically — apply flatten
    depth-1 times. Columns get the single-level flatten (their type
    depth is unknown at transpile; nest the call for deeper)."""
    if len(a) != 1:
        raise _SkipRewrite()
    arg = a[0].strip()
    depth = 0
    pos = 0
    while True:
        m = re.match(r"array\s*\(\s*", arg[pos:], re.IGNORECASE)
        if not m:
            break
        depth += 1
        pos += m.end()
    if depth <= 2:
        raise _SkipRewrite()  # plain rename handles 1 level
    out = a[0]
    for _ in range(depth - 1):
        out = f"flatten({out})"
    return out


def _trunc_toward_zero(a: list) -> str:
    if len(a) == 2:
        if re.fullmatch(r"'[^']*'|\"[^\"]*\"", a[1].strip()):
            # Spark's trunc(date, 'fmt') — native, keep. Only a quoted
            # format string selects this shape: CH's numeric
            # trunc(x, n) (truncate to n decimals, toward zero) would
            # otherwise silently evaluate to NULL in Spark.
            raise _SkipRewrite
        return (
            f"(CASE WHEN ({a[0]}) >= 0 "
            f"THEN floor(({a[0]}) * pow(10, {a[1]})) "
            f"ELSE ceil(({a[0]}) * pow(10, {a[1]})) END "
            f"/ pow(10, {a[1]}))"
        )
    return (
        f"(CASE WHEN ({a[0]}) >= 0 THEN floor({a[0]}) "
        f"ELSE ceil({a[0]}) END)"
    )


def _euclid(a: list) -> str:
    """gcd via an unrolled Euclid fold — 96 steps covers the 64-bit
    worst case (consecutive Fibonacci numbers need ~92)."""
    return (
        f"aggregate(sequence(1, 96), "
        f"named_struct('a', abs({a[0]}), 'b', abs({a[1]})), "
        f"(__g, __i) -> IF(__g.b = 0, __g, "
        f"named_struct('a', __g.b, 'b', __g.a % __g.b))).a"
    )


def _ch_left(a) -> str:
    """CH left(s, n): n >= 0 → leftmost n chars; n < 0 → all but
    the LAST |n| chars (Spark's left returns '' for negative n).
    Emitted as substr forms — the rewrite loop resumes just past the
    match start, so the replacement must not contain a bare
    ``left(``/``right(`` token or it would re-match forever."""
    if len(a) != 2:
        raise ValueError("left(s, n) takes exactly two arguments")
    s, n = a[0], a[1].strip()
    if re.fullmatch(r"\d+", n):
        return f"substr({s}, 1, {n})"
    return (
        f"substr({s}, 1, IF(({n}) < 0, "
        f"greatest(length({s}) + ({n}), 0), {n}))"
    )


def _ch_right(a) -> str:
    """CH right(s, n): n >= 0 → rightmost n chars; n < 0 → all but
    the FIRST |n| chars (= substr(s, 1 - n)). substr-only output,
    same re-match constraint as :func:`_ch_left`."""
    if len(a) != 2:
        raise ValueError("right(s, n) takes exactly two arguments")
    s, n = a[0], a[1].strip()
    if re.fullmatch(r"\d+", n):
        return (
            f"substr({s}, greatest(length({s}) - {n} + 1, 1), {n})"
        )
    return (
        f"CASE WHEN ({n}) < 0 THEN substr({s}, 1 - ({n})) "
        f"ELSE substr({s}, greatest(length({s}) - ({n}) + 1, 1), "
        f"greatest({n}, 0)) END"
    )


_DT_STR_LIT = re.compile(
    r"^\s*'(\d{4}-\d{2}-\d{2})([ T]\d{2}:\d{2}(:\d{2}(\.\d+)?)?)?'\s*$"
)


def _interval_operand(x: str) -> str:
    """Type a bare date/datetime string LITERAL for interval
    arithmetic: CH's add*/subtract* accept string dates
    ('2024-01-31'), but Spark's `x + INTERVAL` needs a typed
    DATE/TIMESTAMP operand (add_months coerced strings implicitly;
    interval addition raises BINARY_OP_DIFF_TYPES)."""
    m = _DT_STR_LIT.match(x)
    if not m:
        return x
    return ("TIMESTAMP " if m.group(2) else "DATE ") + x.strip()


_ARG_REWRITES: dict = {
    "toISOWeek": lambda a: f"weekofyear({a[0]})",
    "now64": lambda a: "now()",
    # CH toTimeZone keeps the instant and changes the display zone;
    # Spark timestamps carry no zone, so shift the wall-clock instead
    # — the observable behavior (toHour etc. return zone-local parts)
    # matches, the stored instant does not (documented deviation).
    "toTimeZone": lambda a: f"from_utc_timestamp({a[0]}, {a[1]})",
    "age": lambda a: f"timestampdiff({_unquote(a[0])}, {a[1]}, {a[2]})",
    "toLastDayOfMonth": lambda a: f"last_day({a[0]})",
    "toFixedString": lambda a: f"rpad({a[0]}, {a[1]}, chr(0))",
    "roundBankers": lambda a: f"bround({', '.join(a)})",
    "roundToExp2": lambda a: (
        f"(CASE WHEN ({a[0]}) < 1 THEN 0 ELSE "
        f"shiftleft(CAST(1 AS BIGINT), "
        f"CAST(floor(log2({a[0]})) AS INT)) END)"
    ),
    "trunc": _trunc_toward_zero,
    "truncate": _trunc_toward_zero,
    "gcd": _euclid,
    "lcm": lambda a: (
        f"(CASE WHEN ({a[0]}) = 0 OR ({a[1]}) = 0 THEN 0 "
        f"ELSE abs(({a[0]}) * ({a[1]})) DIV {_euclid(a)} END)"
    ),
    "toStartOfInterval": _to_start_of_interval,
    "formatReadableSize": _format_readable_size,
    "formatReadableQuantity": _format_readable_quantity,
    "countEqual": lambda a: (
        f"size(filter({a[0]}, __ce -> __ce <=> ({a[1]})))"
    ),
    "intDivOrZero": lambda a: (
        f"(CASE WHEN ({a[1]}) = 0 THEN 0 ELSE ({a[0]}) div ({a[1]}) END)"
    ),
    "moduloOrZero": lambda a: (
        f"(CASE WHEN ({a[1]}) = 0 THEN 0 ELSE ({a[0]}) % ({a[1]}) END)"
    ),
    "bitTest": lambda a: f"(((({a[0]}) >> ({a[1]})) & 1))",
    "tupleElement": _tuple_element,
    "positionCaseInsensitive": lambda a: (
        f"locate(lower({a[1]}), lower({a[0]}))"
    ),
    "dateName": _date_name,
    "accurateCastOrNull": _accurate_cast_or_null,
    "accurateCastOrDefault": _accurate_cast_or_default,
    # IPv4 family: pure integer/octet math (CH stores IPv4 as UInt32)
    # shiftright() function form, not the `>>` operator — Spark's
    # parser rejects `>>`/`<<` anywhere inside a higher-order
    # function call (transform/filter/aggregate), and this builder
    # gets composed into those (IPv4CIDRToRange).
    # IPv4 values in this engine are dotted STRINGS (toIPv4
    # canonicalizes to text), while CH users also pass the UInt32 —
    # dispatch on castability: numeric → octet math, dotted string →
    # it already IS the formatted form (CH formats IPv4 the same way).
    "IPv4NumToString": lambda a: (
        f"(CASE WHEN TRY_CAST({a[0]} AS BIGINT) IS NOT NULL THEN "
        f"concat(CAST(shiftright(TRY_CAST({a[0]} AS BIGINT), 24) "
        f"& 255 AS STRING), '.', "
        f"CAST(shiftright(TRY_CAST({a[0]} AS BIGINT), 16) "
        f"& 255 AS STRING), '.', "
        f"CAST(shiftright(TRY_CAST({a[0]} AS BIGINT), 8) "
        f"& 255 AS STRING), '.', "
        f"CAST(TRY_CAST({a[0]} AS BIGINT) & 255 AS STRING)) "
        f"ELSE CAST({a[0]} AS STRING) END)"
    ),
    "IPv4StringToNum": lambda a: (
        f"(CAST(element_at(split({a[0]}, '\\\\.'), 1) AS BIGINT) * 16777216"
        f" + CAST(element_at(split({a[0]}, '\\\\.'), 2) AS BIGINT) * 65536"
        f" + CAST(element_at(split({a[0]}, '\\\\.'), 3) AS BIGINT) * 256"
        f" + CAST(element_at(split({a[0]}, '\\\\.'), 4) AS BIGINT))"
    ),
    "toDecimal64": lambda a: f"CAST({a[0]} AS DECIMAL(18, {a[1]}))",
    "toDecimal32": lambda a: f"CAST({a[0]} AS DECIMAL(9, {a[1]}))",
    "toDecimal128": lambda a: f"CAST({a[0]} AS DECIMAL(38, {a[1]}))",
    # Decimal256 narrows to Spark's widest DECIMAL(38, s) — same
    # widening posture as UInt64 (deviation ledger); values beyond
    # 38 digits raise Spark's ANSI overflow rather than wrapping.
    "toDecimal256": lambda a: f"CAST({a[0]} AS DECIMAL(38, {a[1]}))",
    # dateSub(unit, n, d) / addDate(d, interval) / subDate(d,
    # interval): CH alias spellings of the served dateAdd family.
    "dateSub": lambda a: (
        f"dateadd({a[0]}, -({a[1]}), {a[2]})"
        if len(a) == 3
        else f"(({a[0]}) - ({a[1]}))"
    ),
    "addDate": lambda a: (
        f"dateadd({a[0]}, {a[1]}, {a[2]})"
        if len(a) == 3
        else f"(({a[0]}) + ({a[1]}))"
    ),
    "subDate": lambda a: (
        f"dateadd({a[0]}, -({a[1]}), {a[2]})"
        if len(a) == 3
        else f"(({a[0]}) - ({a[1]}))"
    ),
    # non-overlapping substring count, the CH contract
    "countSubstrings": lambda a: (
        f"CAST((length({a[0]}) - length(replace({a[0]}, {a[1]}, ''))) "
        f"/ length({a[1]}) AS INT)"
    ),
    # CH tokens(): split on non-alphanumeric runs
    "tokens": lambda a: (
        f"filter(split({a[0]}, '[^a-zA-Z0-9]+'), __t -> __t != '')"
    ),
    # CH ngrams(string, n): character n-grams
    "ngrams": lambda a: (
        f"transform(sequence(1, greatest(length({a[0]}) - {a[1]} + 1, 0)), "
        f"__i -> substring({a[0]}, __i, {a[1]}))"
    ),
    "ifNotFinite": lambda a: (
        f"(CASE WHEN isnan({a[0]}) OR abs({a[0]}) = double('inf') "
        f"THEN {a[1]} ELSE {a[0]} END)"
    ),
    "JSONLength": lambda a: (
        f"coalesce(json_array_length({a[0]}), "
        f"size(json_object_keys({a[0]})))"
    ),
    "visitParamExtractString": lambda a: (
        f"get_json_object({a[0]}, '$.{_unquote(a[1])}')"
    ),
    "visitParamExtractInt": lambda a: (
        f"CAST(get_json_object({a[0]}, '$.{_unquote(a[1])}') AS BIGINT)"
    ),
    "visitParamExtractFloat": lambda a: (
        f"CAST(get_json_object({a[0]}, '$.{_unquote(a[1])}') AS DOUBLE)"
    ),
    "visitParamHas": lambda a: (
        f"(get_json_object({a[0]}, '$.{_unquote(a[1])}') IS NOT NULL)"
    ),
    # arrayResize(arr, n, pad): truncate or right-pad to length n.
    "arrayResize": lambda a: (
        f"(CASE WHEN size({a[0]}) >= ({a[1]}) THEN slice({a[0]}, 1, {a[1]}) "
        f"ELSE concat({a[0]}, array_repeat({a[2]}, ({a[1]}) - size({a[0]}))) "
        f"END)"
    ),
    # runningDifference is deprecated in CH itself (block-order
    # dependent — undefined in any distributed engine). Refuse with
    # the window-function replacement instead of an opaque
    # UNRESOLVED_ROUTINE.
    "runningDifference": lambda a: (_ for _ in ()).throw(
        ValueError(
            "runningDifference() is block-order dependent and "
            "deprecated in ClickHouse; use "
            f"{a[0]} - lag({a[0]}, 1, {a[0]}) OVER (ORDER BY <key>)"
        )
    ),
    # JSONExtractRaw(json, key): the raw JSON value as a string —
    # get_json_object already returns the raw fragment.
    "JSONExtractRaw": lambda a: (
        f"get_json_object({a[0]}, '$.{_unquote(a[1])}')"
    ),
    # bar(x, min, max, width): CH's ASCII bar chart. Full-block
    # rendering (CH adds eighth-block fractions; the full-block
    # resolution is the monitoring use case).
    "bar": lambda a: (
        f"repeat('█', greatest(CAST(round(({a[0]} - ({a[1]})) "
        f"/ (({a[2]}) - ({a[1]})) * ({a[3] if len(a) > 3 else 80})) "
        f"AS INT), 0))"
    ),
    # avgMerge folds the (sum, count) pairs avgState emits;
    # avgMergeState folds them back INTO a (sum, count) pair.
    "avgMerge": lambda a: (
        f"(sum(({a[0]}).sum) / sum(({a[0]}).count))"
    ),
    "avgMergeState": lambda a: (
        f"named_struct('sum', sum(({a[0]}).sum), "
        f"'count', sum(({a[0]}).count))"
    ),
    # CH debug/plumbing no-ops: materialize() defeats CH
    # constant-folding (meaningless under Catalyst — identity);
    # ignore() always returns 0; sleep() returns 0 after sleeping
    # (per-row sleeping is an anti-feature on a shared engine — the
    # constant result is kept, the delay is not).
    "materialize": lambda a: f"({a[0]})",
    "ignore": lambda a: "0",
    "sleep": lambda a: "0",
    "sleepEachRow": lambda a: "0",
    # -Array aggregate combinators: aggregate over the concatenation
    # of every row's array.
    "sumArray": lambda a: (
        f"sum(aggregate({a[0]}, CAST(0 AS DOUBLE), "
        f"(__a, __x) -> __a + __x))"
    ),
    "minArray": lambda a: f"min(array_min({a[0]}))",
    "maxArray": lambda a: f"max(array_max({a[0]}))",
    # nullif(denominator): all-empty arrays would otherwise hit
    # ANSI DIVIDE_BY_ZERO; NULL is this engine's empty-avg value.
    "avgArray": lambda a: (
        f"(sum(aggregate({a[0]}, CAST(0 AS DOUBLE), "
        f"(__a, __x) -> __a + __x)) / nullif(sum(size({a[0]})), 0))"
    ),
    "uniqArray": lambda a: (
        f"size(array_distinct(flatten(collect_list({a[0]}))))"
    ),
    "countArray": lambda a: f"coalesce(sum(size({a[0]})), 0)",
    # Random-distribution family (CH 22.10+, in the pinned 23.6):
    # rand()/randn() evaluate PER ELEMENT inside higher-order
    # lambdas (verified), so bounded simulation folds work. Trial
    # sequences slice-clamp so 0 trials fold over an EMPTY array
    # (sequence(1, 0) descends — the mapPopulateSeries hazard).
    # randBinomial: n Bernoulli trials.
    "randBinomial": lambda a: (
        f"aggregate({_trials(a[0])}, 0, "
        f"(__a, __i) -> __a + IF(rand() < ({a[1]}), 1, 0))"
    ),
    # randNegativeBinomial: failures before the r-th success — sum
    # of r geometric draws floor(ln U / ln(1−p)). p is guarded to
    # (0, 1): p=0 divides by ln(1)=0 and p=1 takes ln(0), both of
    # which would surface as an opaque ANSI cast/divide error where
    # CH raises a clear argument error (ADVICE r10).
    "randNegativeBinomial": lambda a: (
        f"aggregate({_trials(a[0])}, 0L, "
        f"(__a, __i) -> __a + CAST(floor(ln(rand()) / "
        f"ln(1 - ({_guard_prob('randNegativeBinomial', a[1])}))) "
        f"AS BIGINT))"
    ),
    # randPoisson: Knuth's product-of-uniforms walk, capped at
    # λ + 20√λ + 20 steps (≈20σ beyond the mean); the finish clamps
    # the do-while off-by-one so λ=0 yields 0, not −1.
    "randPoisson": lambda a: (
        f"(aggregate(sequence(1, CAST(ceil(({a[0]}) + "
        f"20 * sqrt({a[0]}) + 20) AS INT)), "
        f"named_struct('p', CAST(1 AS DOUBLE), 'k', 0), "
        f"(__s, __i) -> IF(__s.p > exp(-({a[0]})), "
        f"named_struct('p', __s.p * rand(), 'k', __s.k + 1), __s), "
        f"__s -> greatest(__s.k - 1, 0)))"
    ),
    "randChiSquared": lambda a: (
        f"aggregate({_trials(a[0])}, "
        f"CAST(0 AS DOUBLE), (__a, __i) -> __a + pow(randn(), 2))"
    ),
    # StudentT/FisherF divide by the SAME truncated trial count the
    # chi-squared sum uses (fractional df would otherwise skew the
    # scale); CH accepts Float64 df — integer-df approximation.
    "randStudentT": lambda a: (
        f"(randn() / sqrt(aggregate({_trials(a[0])}, "
        f"CAST(0 AS DOUBLE), (__a, __i) -> __a + "
        f"pow(randn(), 2)) / CAST({a[0]} AS INT)))"
    ),
    "randFisherF": lambda a: (
        f"((aggregate({_trials(a[0])}, "
        f"CAST(0 AS DOUBLE), (__a, __i) -> __a + pow(randn(), 2)) "
        f"/ CAST({a[0]} AS INT)) / (aggregate({_trials(a[1])},"
        f" CAST(0 AS DOUBLE), (__a, __i) -> __a + pow(randn(), 2)) "
        f"/ CAST({a[1]} AS INT)))"
    ),
    "randLogNormal": lambda a: (
        f"exp(({a[0]}) + ({a[1]}) * randn())"
    ),
    # toStartOfWeek(d[, mode[, timezone]]): CH's default mode is 0
    # (Sunday-first), so the bare form routes through the mode table
    # with mode 0 — bare and explicit-default now agree (ADVICE r10).
    # EVEN modes are Sunday-first, ODD Monday-first (the CH/MySQL
    # week-mode table). A timezone shifts a TIMESTAMP to that
    # zone's wall time first (a pure Date is not shifted).
    "toStartOfWeek": lambda a: (
        _to_start_of_week_mode([a[0], "0"])
        if len(a) == 1
        else _to_start_of_week_mode(a)
    ),
    # N×N aggregate matrices: the column list is static at transpile
    # time, so the matrix is n² plain aggregate cells (graduated
    # from the round-9 refusals).
    "corrMatrix": lambda a: _agg_matrix("corr", a),
    "covarSampMatrix": lambda a: _agg_matrix("covar_samp", a),
    "covarPopMatrix": lambda a: _agg_matrix("covar_pop", a),
    # Stacked -ArrayIf: the condition gates the whole row's array
    # (NULL arrays vanish from sum/min/max/collect_list alike).
    "sumArrayIf": lambda a: (
        f"sum(aggregate(CASE WHEN ({a[1]}) THEN ({a[0]}) END, "
        f"CAST(0 AS DOUBLE), (__a, __x) -> __a + __x))"
    ),
    "minArrayIf": lambda a: (
        f"min(array_min(CASE WHEN ({a[1]}) THEN ({a[0]}) END))"
    ),
    "maxArrayIf": lambda a: (
        f"max(array_max(CASE WHEN ({a[1]}) THEN ({a[0]}) END))"
    ),
    "avgArrayIf": lambda a: (
        f"(sum(aggregate(CASE WHEN ({a[1]}) THEN ({a[0]}) END, "
        f"CAST(0 AS DOUBLE), (__a, __x) -> __a + __x)) / "
        f"nullif(sum(CASE WHEN ({a[1]}) THEN size({a[0]}) END), 0))"
    ),
    "uniqArrayIf": lambda a: (
        f"size(array_distinct(flatten(collect_list("
        f"CASE WHEN ({a[1]}) THEN ({a[0]}) END))))"
    ),
    "countArrayIf": lambda a: (
        f"coalesce(sum(CASE WHEN ({a[1]}) THEN size({a[0]}) "
        f"ELSE 0 END), 0)"
    ),
    "avgWeighted": lambda a: (
        f"(sum(({a[0]}) * ({a[1]})) / sum({a[1]}))"
    ),
    # boundingRatio(x, y): slope of the bounding segment — rise
    # between the y values at max/min x over the x span.
    "boundingRatio": lambda a: (
        f"((max_by({a[1]}, {a[0]}) - min_by({a[1]}, {a[0]})) "
        f"/ (CAST(max({a[0]}) AS DOUBLE) - min({a[0]})))"
    ),
    # deltaSum is block-order dependent (like runningDifference):
    # refuse with the window spelling.
    "deltaSum": lambda a: (_ for _ in ()).throw(
        ValueError(
            "deltaSum() is block-order dependent; use "
            f"sum(greatest({a[0]} - lag({a[0]}, 1, {a[0]}) "
            "OVER (ORDER BY <key>), 0)) instead"
        )
    ),
    # Moment statistics. CH skewPop is the population skewness Spark's
    # skewness() computes; kurtPop is plain kurtosis μ4/σ⁴ (Spark's
    # kurtosis() is EXCESS kurtosis, hence the +3); the Samp variants
    # apply the standard bias corrections as compound aggregates.
    "skewPop": lambda a: f"skewness({a[0]})",
    "skewSamp": lambda a: (
        f"(skewness({a[0]}) * sqrt(count({a[0]}) * (count({a[0]}) - 1))"
        f" / (count({a[0]}) - 2))"
    ),
    "kurtPop": lambda a: f"(kurtosis({a[0]}) + 3)",
    "kurtSamp": lambda a: (
        f"((kurtosis({a[0]}) + 3) * pow(var_pop({a[0]}), 2) "
        f"/ pow(var_samp({a[0]}), 2))"
    ),
    # anyHeavy: a frequently-occurring value — mode() is the honest
    # deterministic twin.
    "anyHeavy": lambda a: f"mode({a[0]})",
    # sumKahan: Spark's sum over doubles is the capability twin
    # (partial-aggregation order already differs from CH blocks; exact
    # compensated summation would need a UDAF for ~1 ulp).
    "sumKahan": lambda a: f"sum({a[0]})",
    # Interval aggregates are sweep-line algorithms, not single
    # aggregate expressions — refuse with the distributed spelling.
    "intervalLengthSum": _interval_sweep_builder("intervalLengthSum"),
    "maxIntersections": _interval_sweep_builder("maxIntersections"),
    "sumMap": lambda a: _map_agg_fold(
        a, "(__k, __a, __b) -> coalesce(__a, 0) + coalesce(__b, 0)"
    ),
    "groupArrayMovingSum": lambda a: (_ for _ in ()).throw(
        ValueError(
            "groupArrayMovingSum() is block-order dependent; use "
            "sum(x) OVER (ORDER BY <key> ROWS BETWEEN k-1 PRECEDING "
            "AND CURRENT ROW)"
        )
    ),
    "groupArrayMovingAvg": lambda a: (_ for _ in ()).throw(
        ValueError(
            "groupArrayMovingAvg() is block-order dependent; use "
            "avg(x) OVER (ORDER BY <key> ROWS BETWEEN k-1 PRECEDING "
            "AND CURRENT ROW)"
        )
    ),
    "arrayPopBack": lambda a: (
        f"slice({a[0]}, 1, greatest(size({a[0]}) - 1, 0))"
    ),
    "arrayPopFront": lambda a: (
        f"slice({a[0]}, 2, greatest(size({a[0]}) - 1, 0))"
    ),
    # arrayFirst/arrayFirstIndex: NULL / 0 when nothing matches
    # (CH returns the type default / 0).
    "arrayFirst": lambda a: (
        f"try_element_at(filter({a[1]}, {a[0]}), 1)"
        if len(a) == 2
        else f"try_element_at({_ho_mask_filter(a)}, 1)"
        if len(a) == 3
        else _ho_too_many("arrayFirst", a)
    ),
    "arrayFirstIndex": lambda a: (
        f"CAST(coalesce(array_position("
        f"transform({a[1]}, {a[0]}), true), 0) AS INT)"
        if len(a) == 2
        else (
            f"CAST(coalesce(array_position("
            f"zip_with({a[1]}, {_pair_sized(a[1], a[2])}, {a[0]}), "
            f"true), 0) AS INT)"
        )
        if len(a) == 3
        else _ho_too_many("arrayFirstIndex", a)
    ),
    "arrayLast": lambda a: (
        f"try_element_at(filter({a[1]}, {a[0]}), -1)"
        if len(a) == 2
        else f"try_element_at({_ho_mask_filter(a)}, -1)"
        if len(a) == 3
        else _ho_too_many("arrayLast", a)
    ),
    "arrayReduce": _array_reduce,
    "mapContains": lambda a: f"map_contains_key({a[0]}, {a[1]})",
    "mapFromArrays": lambda a: f"map_from_arrays({a[0]}, {a[1]})",
    # Two-array arrayZip emits col1/col2-named structs so CH tuple
    # element access (`z[1].1` → col1) resolves; 3+ arrays keep
    # Spark's arrays_zip (0-based field names, documented).
    "arrayZip": lambda a: (
        f"zip_with({a[0]}, {_pair_sized(a[0], a[1])}, "
        f"(__zx, __zy) -> struct(__zx AS col1, __zy AS col2))"
        if len(a) == 2
        else "arrays_zip(" + ", ".join(a) + ")"
    ),
    # CH higher-order multi-array forms zip positionally: two arrays
    # map straight onto Spark's zip_with; the predicate family
    # composes a zip_with boolean mask (Spark's filter/exists/forall
    # are single-array). Silent-wrong-value trap before round 12:
    # transform(arr, (x, y) -> ...) bound y to Spark's ELEMENT INDEX
    # and dropped the second array entirely.
    "arrayMap": lambda a: (
        f"transform({a[1]}, {a[0]})"
        if len(a) == 2
        else f"zip_with({a[1]}, {_pair_sized(a[1], a[2])}, {a[0]})"
        if len(a) == 3
        else _ho_too_many("arrayMap", a)
    ),
    "arrayFilter": lambda a: (
        f"filter({a[1]}, {a[0]})"
        if len(a) == 2
        else _ho_mask_filter(a)
        if len(a) == 3
        else _ho_too_many("arrayFilter", a)
    ),
    "arrayExists": lambda a: (
        f"exists({a[1]}, {a[0]})"
        if len(a) == 2
        else f"exists(zip_with({a[1]}, {_pair_sized(a[1], a[2])}, "
        f"{a[0]}), __hb -> __hb)"
        if len(a) == 3
        else _ho_too_many("arrayExists", a)
    ),
    "arrayAll": lambda a: (
        f"forall({a[1]}, {a[0]})"
        if len(a) == 2
        else f"forall(zip_with({a[1]}, {_pair_sized(a[1], a[2])}, "
        f"{a[0]}), __hb -> __hb)"
        if len(a) == 3
        else _ho_too_many("arrayAll", a)
    ),
    "arrayCount": _array_count,
    # CH's optional leading lambda (arraySum(x -> x*2, arr)) maps
    # the elements first; the one-arg form folds the array as-is.
    "arraySum": lambda a: (
        f"aggregate({a[0]}, CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
        if len(a) == 1
        else (
            f"aggregate(transform({a[1]}, {a[0]}), "
            f"CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
        )
    ),
    "arrayAvg": lambda a: (
        f"(aggregate({a[0]}, CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
        f" / size({a[0]}))"
        if len(a) == 1
        else (
            f"(aggregate(transform({a[1]}, {a[0]}), "
            f"CAST(0 AS DOUBLE), (acc, x) -> acc + x) / size({a[1]}))"
        )
    ),
    "arrayMin": lambda a: (
        f"array_min({a[0]})"
        if len(a) == 1
        else f"array_min(transform({a[1]}, {a[0]}))"
    ),
    "arrayMax": lambda a: (
        f"array_max({a[0]})"
        if len(a) == 1
        else f"array_max(transform({a[1]}, {a[0]}))"
    ),
    "hasAll": lambda a: f"(size(array_except({a[1]}, {a[0]})) = 0)",
    "splitByChar": lambda a: f"split({a[1]}, {_sql_regex_literal(a[0])})",
    "splitByString": lambda a: f"split({a[1]}, {_sql_regex_literal(a[0])})",
    "dateDiff": lambda a: f"timestampdiff({_unquote(a[0])}, {a[1]}, {a[2]})",
    "formatDateTime": _format_datetime,
    "multiIf": _multi_if,
    # CH functional arithmetic spellings → operators. divide() is
    # always Float64 in CH, hence the cast.
    "plus": lambda a: f"(({a[0]}) + ({a[1]}))",
    "minus": lambda a: f"(({a[0]}) - ({a[1]}))",
    "multiply": lambda a: f"(({a[0]}) * ({a[1]}))",
    "divide": lambda a: f"(CAST({a[0]} AS DOUBLE) / ({a[1]}))",
    "negate": lambda a: f"(-({a[0]}))",
    "bitAnd": lambda a: f"(({a[0]}) & ({a[1]}))",
    "bitOr": lambda a: f"(({a[0]}) | ({a[1]}))",
    "bitXor": lambda a: f"(({a[0]}) ^ ({a[1]}))",
    "bitNot": lambda a: f"(~({a[0]}))",
    # arrayEnumerate(arr) = [1..size(arr)]
    "arrayEnumerate": lambda a: f"sequence(1, size({a[0]}))",
    # ifEmpty(x, alt): alt when x is '' or NULL (CH empty() contract).
    "ifEmpty": lambda a: (
        f"(CASE WHEN coalesce(length({a[0]}), 0) = 0 "
        f"THEN {a[1]} ELSE {a[0]} END)"
    ),
    # arrayCompact: drop CONSECUTIVE duplicates. filter's 2-arg lambda
    # index is 0-based; element_at is 1-based, so element_at(a, i) IS
    # the previous element. Null-safe compare keeps CH's behavior on
    # null runs.
    "arrayCompact": lambda a: (
        f"filter({a[0]}, (__x, __i) -> __i = 0 "
        f"OR NOT (__x <=> element_at({a[0]}, __i)))"
    ),
    # arrayDifference: [0, a[1]-a[0], ...]; element_at(a,1)*0 is a
    # zero of the element's own type (keeps int arrays int).
    "arrayDifference": lambda a: (
        f"transform({a[0]}, (__x, __i) -> CASE WHEN __i = 0 "
        f"THEN element_at({a[0]}, 1) * 0 "
        f"ELSE __x - element_at({a[0]}, __i) END)"
    ),
    # arrayCumSum: prefix sums via per-index fold (O(n²) — CH arrays
    # here are row-local and small; the distributed cumsum is a
    # window function, see window_running_sum). DOUBLE accumulator:
    # decimal literals would otherwise grow precision per addition,
    # which aggregate()'s fixed accumulator type rejects.
    "arrayCumSum": lambda a: (
        f"transform({a[0]}, (__x, __i) -> "
        f"aggregate(slice({a[0]}, 1, __i + 1), "
        f"CAST(0 AS DOUBLE), (__acc, __v) -> __acc + __v))"
    ),
    # multiSearchAny(haystack, [needles]) — any needle a substring?
    "multiSearchAny": lambda a: (
        f"exists({a[1]}, __n -> instr({a[0]}, __n) > 0)"
    ),
    "multiSearchAnyCaseInsensitive": lambda a: (
        f"exists({a[1]}, __n -> instr(lower({a[0]}), lower(__n)) > 0)"
    ),
    # add*/subtract* date arithmetic (CH spellings; days/months have
    # direct Spark twins above).
    # Month-family arithmetic via ym-intervals, NOT add_months:
    # add_months(TIMESTAMP) truncates to DATE where CH keeps
    # DateTime; `x + make_ym_interval` keeps DATE→DATE and
    # TIMESTAMP→TIMESTAMP with the same end-of-month clamping
    # (round-12 review finding; addQuarters in the sweep tranche
    # follows the same rule).
    "addYears": lambda a: (
        f"({_interval_operand(a[0])} + make_ym_interval(CAST({a[1]} AS INT)))"
    ),
    "subtractYears": lambda a: (
        f"({_interval_operand(a[0])} - make_ym_interval(CAST({a[1]} AS INT)))"
    ),
    "addMonths": lambda a: (
        f"({_interval_operand(a[0])} + make_ym_interval(0, CAST({a[1]} AS INT)))"
    ),
    "subtractMonths": lambda a: (
        f"({_interval_operand(a[0])} - make_ym_interval(0, CAST({a[1]} AS INT)))"
    ),
    "addWeeks": lambda a: f"date_add({a[0]}, 7 * ({a[1]}))",
    "subtractWeeks": lambda a: f"date_sub({a[0]}, 7 * ({a[1]}))",
    "addHours": lambda a: (
        f"({_interval_operand(a[0])} + make_interval(0, 0, 0, 0, {a[1]}))"
    ),
    "subtractHours": lambda a: (
        f"({_interval_operand(a[0])} - make_interval(0, 0, 0, 0, {a[1]}))"
    ),
    "addMinutes": lambda a: (
        f"({_interval_operand(a[0])} + make_interval(0, 0, 0, 0, 0, {a[1]}))"
    ),
    "subtractMinutes": lambda a: (
        f"({_interval_operand(a[0])} - make_interval(0, 0, 0, 0, 0, {a[1]}))"
    ),
    "addSeconds": lambda a: (
        f"({_interval_operand(a[0])} + make_interval(0, 0, 0, 0, 0, 0, {a[1]}))"
    ),
    "subtractSeconds": lambda a: (
        f"({_interval_operand(a[0])} - make_interval(0, 0, 0, 0, 0, 0, {a[1]}))"
    ),
    # toInterval* constructors → make_interval slot-fills.
    "toIntervalYear": lambda a: f"make_interval({a[0]})",
    "toIntervalMonth": lambda a: f"make_interval(0, {a[0]})",
    "toIntervalWeek": lambda a: f"make_interval(0, 0, {a[0]})",
    "toIntervalDay": lambda a: f"make_interval(0, 0, 0, {a[0]})",
    "toIntervalHour": lambda a: f"make_interval(0, 0, 0, 0, {a[0]})",
    "toIntervalMinute": lambda a: (
        f"make_interval(0, 0, 0, 0, 0, {a[0]})"
    ),
    "toIntervalSecond": lambda a: (
        f"make_interval(0, 0, 0, 0, 0, 0, {a[0]})"
    ),
}

def _haversine_expr(a: list) -> str:
    """CH greatCircleDistance(lon1, lat1, lon2, lat2) → meters via the
    haversine formula on a 6371 km sphere."""
    lon1, lat1, lon2, lat2 = a[0], a[1], a[2], a[3]
    return (
        f"(2 * 6371000.0 * asin(sqrt("
        f"pow(sin(radians(({lat2}) - ({lat1})) / 2), 2) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"pow(sin(radians(({lon2}) - ({lon1})) / 2), 2))))"
    )


def _central_angle_expr(a: list) -> str:
    """CH greatCircleAngle(lon1, lat1, lon2, lat2) → central angle in
    DEGREES (same haversine core as greatCircleDistance)."""
    lon1, lat1, lon2, lat2 = a[0], a[1], a[2], a[3]
    return (
        f"degrees(2 * asin(sqrt("
        f"pow(sin(radians(({lat2}) - ({lat1})) / 2), 2) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"pow(sin(radians(({lon2}) - ({lon1})) / 2), 2))))"
    )


def _enum_uniq_ranked(a: list) -> str:
    """arrayEnumerateUniqRanked: the single-array form equals
    arrayEnumerateUniq (Spark array equality handles nested-array
    elements); the depth-parameter form has no Spark mapping."""
    if len(a) != 1:
        raise ValueError(
            "arrayEnumerateUniqRanked: only the single-array form is "
            "supported; for a custom depth, flatten() to the target "
            "level and use arrayEnumerateUniq"
        )
    return _ARG_REWRITES["arrayEnumerateUniq"](a)


# Round-6 probe tranche: tuple expansion, ranked enumeration, geo
# central angle, relative-time stragglers, week-end rounding, CH
# month naming.
_ARG_REWRITES.update({
    "greatCircleAngle": _central_angle_expr,
    "arrayEnumerateUniqRanked": _enum_uniq_ranked,
    # CH descending partial sort: full descending sort satisfies the
    # contract (first k sorted; CH leaves the tail unspecified).
    "arrayPartialReverseSort": lambda a: f"sort_array({a[1]}, false)",
    # Monotonic epoch-ish bucket numbers, matching CH DateLUT's
    # formulas: month = y*12+m, quarter = y*4+q-1, week counted from
    # the Monday-based week of 1970-01-01 (Thursday → week 0).
    "toRelativeMonthNum": lambda a: (
        f"(extract(YEAR FROM {a[0]}) * 12 + extract(MONTH FROM {a[0]}))"
    ),
    "toRelativeQuarterNum": lambda a: (
        f"(extract(YEAR FROM {a[0]}) * 4 + extract(QUARTER FROM {a[0]}) - 1)"
    ),
    "toRelativeWeekNum": lambda a: (
        f"CAST(floor((datediff(CAST({a[0]} AS DATE), DATE'1970-01-01') "
        f"+ 8 - extract(DAYOFWEEK_ISO FROM {a[0]})) / 7) AS BIGINT)"
    ),
    # Monday-based week (the toStartOfWeek convention above): the
    # week's last day is Sunday.
    "toLastDayOfWeek": lambda a: (
        f"date_add(CAST({a[0]} AS DATE), "
        f"7 - extract(DAYOFWEEK_ISO FROM {a[0]}))"
    ),
    # CH monthName returns the FULL name ('March'); Spark's native
    # monthname() is the 3-letter abbreviation.
    "monthName": lambda a: f"date_format({a[0]}, 'MMMM')",
    "tupleToNameValuePairs": lambda a: _tuple_nvp_builder(a),
    "JSONAllPaths": lambda a: (_ for _ in ()).throw(
        ValueError(
            "JSONAllPaths needs recursive path enumeration; use "
            "JSONExtractKeys per level or json_object_keys()"
        )
    ),
})


# Round-5 probe tranche: URL analysis, bitmap ops, IPv6, the rest of
# the arrayEnumerate family. Bitmaps are represented as sorted
# distinct arrays — every CH bitmap op maps to a built-in array
# expression (JVM-side; a roaring-bitmap object would only matter for
# the -State serialization surface, which the engine does not expose).
_ARG_REWRITES.update({
    # -- URL functions (Spark's parse_url does the parsing) --
    "protocol": lambda a: f"parse_url({a[0]}, 'PROTOCOL')",
    "domain": lambda a: f"parse_url({a[0]}, 'HOST')",
    "domainWithoutWWW": lambda a: (
        f"regexp_replace(parse_url({a[0]}, 'HOST'), '^www\\\\.', '')"
    ),
    "topLevelDomain": lambda a: (
        f"element_at(split(parse_url({a[0]}, 'HOST'), '\\\\.'), -1)"
    ),
    "path": lambda a: f"parse_url({a[0]}, 'PATH')",
    "pathFull": lambda a: (
        f"concat(parse_url({a[0]}, 'PATH'), "
        f"coalesce(concat('?', parse_url({a[0]}, 'QUERY')), ''))"
    ),
    "queryString": lambda a: f"coalesce(parse_url({a[0]}, 'QUERY'), '')",
    "fragment": lambda a: f"coalesce(parse_url({a[0]}, 'REF'), '')",
    "extractURLParameter": lambda a: (
        f"coalesce(parse_url({a[0]}, 'QUERY', {a[1]}), '')"
    ),
    "extractURLParameters": lambda a: (
        f"filter(split(coalesce(parse_url({a[0]}, 'QUERY'), ''), '&'), "
        f"__p -> __p != '')"
    ),
    "extractURLParameterNames": lambda a: (
        f"transform(filter(split(coalesce(parse_url({a[0]}, 'QUERY'), "
        f"''), '&'), __p -> __p != ''), "
        f"__p -> element_at(split(__p, '='), 1))"
    ),
    "cutURLParameter": lambda a: _cut_url_parameter(a),
    "cutQueryString": lambda a: (
        f"regexp_replace({a[0]}, '\\\\?[^#]*', '')"
    ),
    "cutFragment": lambda a: f"regexp_replace({a[0]}, '#.*$', '')",
    "netloc": lambda a: f"parse_url({a[0]}, 'AUTHORITY')",
    # CH heuristic: the label left of the TLD, except one more label
    # left when the second-level is a common registrar label.
    # try_element_at: a dotless host (localhost) has no -2/-3 labels
    # and must yield NULL, not an ANSI INVALID_ARRAY_INDEX error.
    "firstSignificantSubdomain": lambda a: (
        f"(CASE WHEN try_element_at(split(parse_url({a[0]}, 'HOST'), "
        f"'\\\\.'), -2) IN ('com', 'net', 'org', 'co', 'gov', 'edu', "
        f"'mil', 'biz') THEN try_element_at(split(parse_url({a[0]}, "
        f"'HOST'), '\\\\.'), -3) ELSE try_element_at(split(parse_url("
        f"{a[0]}, 'HOST'), '\\\\.'), -2) END)"
    ),
    # -- bitmap family over sorted distinct arrays --
    "bitmapBuild": lambda a: f"array_sort(array_distinct({a[0]}))",
    "bitmapToArray": lambda a: f"({a[0]})",
    "bitmapCardinality": lambda a: f"size({a[0]})",
    "bitmapAnd": lambda a: (
        f"array_sort(array_intersect({a[0]}, {a[1]}))"
    ),
    "bitmapOr": lambda a: f"array_sort(array_union({a[0]}, {a[1]}))",
    "bitmapXor": lambda a: (
        f"array_sort(array_except(array_union({a[0]}, {a[1]}), "
        f"array_intersect({a[0]}, {a[1]})))"
    ),
    "bitmapAndnot": lambda a: (
        f"array_sort(array_except({a[0]}, {a[1]}))"
    ),
    "bitmapContains": lambda a: f"array_contains({a[0]}, {a[1]})",
    "bitmapHasAll": lambda a: (
        f"(size(array_except({a[1]}, {a[0]})) = 0)"
    ),
    "bitmapHasAny": lambda a: f"arrays_overlap({a[0]}, {a[1]})",
    "bitmapMin": lambda a: f"array_min({a[0]})",
    "bitmapMax": lambda a: f"array_max({a[0]})",
    "groupBitmap": lambda a: f"count(DISTINCT {a[0]})",
    # Binary-op cardinalities: the operands are already distinct
    # (bitmapBuild sorts+dedups) and Spark's set ops dedup anyway, so
    # size() over the set op is exact. |A xor B| = |A∪B| − |A∩B|.
    "bitmapAndCardinality": lambda a: (
        f"size(array_intersect({a[0]}, {a[1]}))"
    ),
    "bitmapOrCardinality": lambda a: (
        f"size(array_union({a[0]}, {a[1]}))"
    ),
    "bitmapXorCardinality": lambda a: (
        f"(size(array_union({a[0]}, {a[1]})) - "
        f"size(array_intersect({a[0]}, {a[1]})))"
    ),
    "bitmapAndnotCardinality": lambda a: (
        f"size(array_except({a[0]}, {a[1]}))"
    ),
    # Subset selectors over the sorted-array representation.
    # bitmapSubsetInRange: range_start inclusive, range_end EXCLUSIVE
    # (CH contract); bitmapSubsetLimit: first ``limit`` values ≥
    # range_start; subBitmap: 0-based offset slice.
    "bitmapSubsetInRange": lambda a: (
        f"filter({a[0]}, __v -> __v >= ({a[1]}) AND __v < ({a[2]}))"
    ),
    "bitmapSubsetLimit": lambda a: (
        f"slice(filter({a[0]}, __v -> __v >= ({a[1]})), 1, "
        f"CAST({a[2]} AS INT))"
    ),
    "subBitmap": lambda a: (
        f"slice({a[0]}, CAST({a[1]} AS INT) + 1, CAST({a[2]} AS INT))"
    ),
    # -- arrayEnumerate family (arrayEnumerate itself is above) --
    "arrayEnumerateUniq": lambda a: (
        f"transform(sequence(1, size({a[0]})), __i -> CAST(1 + "
        f"size(filter(slice({a[0]}, 1, __i - 1), "
        f"__y -> __y = element_at({a[0]}, __i))) AS INT))"
    ),
    "arrayEnumerateDense": lambda a: (
        f"transform({a[0]}, __x -> CAST(array_position("
        f"array_distinct({a[0]}), __x) AS INT))"
    ),
    # -- IP family --
    "isIPv4String": lambda a: (
        f"(coalesce({a[0]}, '') RLIKE "
        f"'^((25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])\\\\.){{3}}"
        f"(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])$')"
    ),
    "isIPv6String": lambda a: f"bh_is_ipv6({a[0]})",
    "IPv6StringToNum": lambda a: f"bh_ipv6_ston({a[0]})",
    "IPv6NumToString": lambda a: f"bh_ipv6_ntos({a[0]})",
    "toIPv6": lambda a: f"bh_ipv6_norm({a[0]})",
    "IPv4ToIPv6": lambda a: f"bh_ipv4_to_ipv6({a[0]})",
    # -- vector math over Array columns (the embeddings surface) --
    "dotProduct": lambda a: _dot_product_builder(a),
    "L1Norm": lambda a: (
        f"aggregate({a[0]}, CAST(0 AS DOUBLE), "
        f"(__s, __v) -> __s + abs(__v))"
    ),
    "L2Norm": lambda a: (
        f"sqrt(aggregate({a[0]}, CAST(0 AS DOUBLE), "
        f"(__s, __v) -> __s + __v * __v))"
    ),
    "LpNorm": lambda a: (
        f"pow(aggregate({a[0]}, CAST(0 AS DOUBLE), "
        f"(__s, __v) -> __s + pow(abs(__v), {a[1]})), 1.0 / ({a[1]}))"
    ),
    "L1Distance": lambda a: (
        f"aggregate(zip_with({a[0]}, {a[1]}, "
        f"(__x, __y) -> abs(__x - __y)), CAST(0 AS DOUBLE), "
        f"(__s, __v) -> __s + __v)"
    ),
    "L2Distance": lambda a: (
        f"sqrt(aggregate(zip_with({a[0]}, {a[1]}, "
        f"(__x, __y) -> (__x - __y) * (__x - __y)), CAST(0 AS DOUBLE), "
        f"(__s, __v) -> __s + __v))"
    ),
    "cosineDistance": lambda a: (
        f"(1.0 - aggregate(zip_with({a[0]}, {a[1]}, "
        f"(__x, __y) -> __x * __y), CAST(0 AS DOUBLE), "
        f"(__s, __v) -> __s + __v) / "
        f"(sqrt(aggregate({a[0]}, CAST(0 AS DOUBLE), "
        f"(__s, __v) -> __s + __v * __v)) * "
        f"sqrt(aggregate({a[1]}, CAST(0 AS DOUBLE), "
        f"(__s, __v) -> __s + __v * __v))))"
    ),
    # -- splits / search --
    "splitByRegexp": lambda a: f"split({a[1]}, {a[0]})",
    "splitByWhitespace": lambda a: (
        f"filter(split({a[0]}, '\\\\s+'), __t -> __t != '')"
    ),
    "multiSearchFirstIndex": lambda a: (
        f"CAST(array_position(transform({a[1]}, "
        f"__n -> locate(__n, {a[0]}) > 0), true) AS INT)"
    ),
    "hasSubstr": lambda a: (
        f"(size({a[1]}) = 0 OR (size({a[0]}) >= size({a[1]}) AND "
        f"exists(sequence(1, size({a[0]}) - size({a[1]}) + 1), "
        f"__i -> slice({a[0]}, __i, size({a[1]})) == {a[1]})))"
    ),
    # CH unhex returns the bytes AS a String (Spark's unhex is
    # binary). to_binary spelling, NOT unhex: a replacement containing
    # its own key would re-match forever (the rewrite loop rescans
    # from the replacement start).
    "unhex": lambda a: f"decode(to_binary({a[0]}, 'hex'), 'UTF-8')",
    # -- best-effort datetime parsing (the Apache-log
    # dd/MMM/yyyy:HH:mm:ss spelling is CH's documented example) --
    "parseDateTimeBestEffort": _parse_best_effort_builder(False, False),
    "parseDateTimeBestEffortOrNull": _parse_best_effort_builder(
        False, True
    ),
    "parseDateTime64BestEffort": _parse_best_effort_builder(True, False),
    "parseDateTime64BestEffortOrNull": _parse_best_effort_builder(
        True, True
    ),
    # -- geo: haversine great-circle meters (CH uses R≈6371 km for
    # greatCircleDistance; geoDistance's ellipsoid correction is
    # within ~0.5% — documented approximation) --
    "greatCircleDistance": _haversine_expr,
    "geoDistance": _haversine_expr,
    # -- window-function spellings --
    "firstValue": lambda a: f"first_value({', '.join(a)})",
    "lastValue": lambda a: f"last_value({', '.join(a)})",
    "nthValue": lambda a: f"nth_value({', '.join(a)})",
    "denseRank": lambda a: "dense_rank()",
    "neighbor": lambda a: (_ for _ in ()).throw(
        ValueError(
            "neighbor() is block-order dependent; use "
            f"lag({a[0]}, -({a[1]})) / lead({a[0]}, {a[1]}) "
            "OVER (ORDER BY <key>)"
        )
    ),
    "runningAccumulate": lambda a: (_ for _ in ()).throw(
        ValueError(
            "runningAccumulate() is block-order dependent; use "
            "sum(x) OVER (ORDER BY <key> ROWS UNBOUNDED PRECEDING)"
        )
    ),
    "nonNegativeDerivative": lambda a: (_ for _ in ()).throw(
        ValueError(
            "nonNegativeDerivative(v, t) spells as greatest((v - "
            "lag(v) OVER w) / (unix_timestamp(t) - "
            "unix_timestamp(lag(t) OVER w)), 0) with w = "
            "(ORDER BY t)"
        )
    ),
    # -- array rotation / shifting / similarity --
    "arrayRotateLeft": lambda a: (
        f"(CASE WHEN size({a[0]}) <= 1 THEN {a[0]} ELSE "
        f"concat(slice({a[0]}, ((({a[1]}) % size({a[0]}) + "
        f"size({a[0]})) % size({a[0]})) + 1, size({a[0]})), "
        f"slice({a[0]}, 1, (({a[1]}) % size({a[0]}) + size({a[0]})) "
        f"% size({a[0]}))) END)"
    ),
    "arrayRotateRight": lambda a: (
        f"(CASE WHEN size({a[0]}) <= 1 THEN {a[0]} ELSE "
        f"concat(slice({a[0]}, (((-({a[1]})) % size({a[0]}) + "
        f"size({a[0]})) % size({a[0]})) + 1, size({a[0]})), "
        f"slice({a[0]}, 1, ((-({a[1]})) % size({a[0]}) + "
        f"size({a[0]})) % size({a[0]}))) END)"
    ),
    "arrayShiftLeft": lambda a: (
        f"(CASE WHEN ({a[1]}) >= 0 THEN "
        f"concat(slice({a[0]}, least(({a[1]}), size({a[0]})) + 1, "
        f"size({a[0]})), array_repeat({a[2] if len(a) > 2 else '0'}, "
        f"least(({a[1]}), size({a[0]})))) ELSE "
        f"concat(array_repeat({a[2] if len(a) > 2 else '0'}, "
        f"least(-({a[1]}), size({a[0]}))), slice({a[0]}, 1, "
        f"greatest(size({a[0]}) + ({a[1]}), 0))) END)"
    ),
    "arrayShiftRight": lambda a: (
        f"(CASE WHEN ({a[1]}) >= 0 THEN "
        f"concat(array_repeat({a[2] if len(a) > 2 else '0'}, "
        f"least(({a[1]}), size({a[0]}))), slice({a[0]}, 1, "
        f"greatest(size({a[0]}) - ({a[1]}), 0))) ELSE "
        f"concat(slice({a[0]}, least(-({a[1]}), size({a[0]})) + 1, "
        f"size({a[0]})), array_repeat({a[2] if len(a) > 2 else '0'}, "
        f"least(-({a[1]}), size({a[0]})))) END)"
    ),
    "arrayJaccardIndex": lambda a: (
        f"(CAST(size(array_intersect({a[0]}, {a[1]})) AS DOUBLE) "
        f"/ size(array_union({a[0]}, {a[1]})))"
    ),
    # -- date/string tier 3 --
    "toISOYear": lambda a: f"extract(YEAROFWEEK FROM {a[0]})",
    "timeDiff": lambda a: (
        f"(unix_timestamp({a[1]}) - unix_timestamp({a[0]}))"
    ),
    # CH toWeek default mode 0 is Sunday-first; weekofyear is the
    # ISO mode-3 twin — documented approximation.
    "toWeek": lambda a: f"weekofyear({a[0]})",
    "toYYYYMMDDhhmmss": lambda a: (
        f"CAST(date_format({a[0]}, 'yyyyMMddHHmmss') AS BIGINT)"
    ),
    "positionUTF8": lambda a: f"locate({a[1]}, {a[0]})",
    "positionCaseInsensitiveUTF8": lambda a: (
        f"locate(lower({a[1]}), lower({a[0]}))"
    ),
    "reverseUTF8": lambda a: f"reverse({a[0]})",
    "toValidUTF8": lambda a: f"({a[0]})",
    # normalizeQuery: literals → placeholders (CH's query-log
    # normalization — string literals then bare integer literals).
    "normalizeQuery": lambda a: (
        f"regexp_replace(regexp_replace({a[0]}, \"'[^']*'\", '?'), "
        f"'\\\\b[0-9]+\\\\b', '?')"
    ),
    # Bitmap aggregate folds: AND/OR of all group bitmaps, then
    # cardinality (CH contract). Collects the group's bitmaps on one
    # reducer — same low-cardinality usage caveat as topK.
    "groupBitmapAnd": lambda a: (
        f"size(aggregate(collect_list({a[0]}), first({a[0]}), "
        f"(__acc, __b) -> array_intersect(__acc, __b)))"
    ),
    "groupBitmapOr": lambda a: (
        f"size(aggregate(collect_list({a[0]}), "
        f"slice(first({a[0]}), 1, 0), "
        f"(__acc, __b) -> array_union(__acc, __b)))"
    ),
    # bitmap × -State/-Merge (round-11 combinator-intersection
    # sweep): a bitmap STATE is its array representation (the
    # bitmapBuild convention), so groupBitmapState is the distinct
    # collect, the And/Or/Xor states are the folds WITHOUT the
    # cardinality, and -Merge re-aggregates stored states to the
    # base aggregate's value (UInt64 cardinality).
    "groupBitmapState": lambda a: (
        f"array_sort(collect_set({a[0]}))"
    ),
    "groupBitmapMerge": lambda a: (
        f"CAST(size(array_distinct(flatten(collect_list({a[0]})))) "
        f"AS BIGINT)"
    ),
    "groupBitmapOrState": lambda a: (
        f"array_sort(aggregate(collect_list({a[0]}), "
        f"slice(first({a[0]}), 1, 0), "
        f"(__acc, __b) -> array_union(__acc, __b)))"
    ),
    "groupBitmapAndState": lambda a: (
        f"array_sort(aggregate(collect_list({a[0]}), first({a[0]}), "
        f"(__acc, __b) -> array_intersect(__acc, __b)))"
    ),
    "groupBitmapOrMerge": lambda a: (
        f"CAST(size(array_distinct(flatten(collect_list({a[0]})))) "
        f"AS BIGINT)"
    ),
    "groupBitmapAndMerge": lambda a: (
        f"CAST(size(aggregate(collect_list({a[0]}), first({a[0]}), "
        f"(__acc, __b) -> array_intersect(__acc, __b))) AS BIGINT)"
    ),
    "groupBitmapXorState": lambda a: (
        f"array_sort(aggregate(collect_list({a[0]}), "
        f"slice(first({a[0]}), 1, 0), "
        f"(__acc, __b) -> array_except(array_union(__acc, __b), "
        f"array_intersect(__acc, __b))))"
    ),
    "groupBitmapXorMerge": lambda a: (
        f"CAST(size(aggregate(collect_list({a[0]}), "
        f"slice(first({a[0]}), 1, 0), "
        f"(__acc, __b) -> array_except(array_union(__acc, __b), "
        f"array_intersect(__acc, __b)))) AS BIGINT)"
    ),
    # arrayFold(fn, arr, acc) → aggregate(arr, acc, fn)
    "arrayFold": lambda a: f"aggregate({a[1]}, {a[2]}, {a[0]})",
    # arrayPartialSort(k, arr): first k sorted, rest unspecified —
    # a fully sorted array satisfies the contract.
    "arrayPartialSort": lambda a: f"array_sort({a[1]})",
    "countMatches": lambda a: (
        f"size(regexp_extract_all({a[0]}, {a[1]}, 0))"
    ),
    "countMatchesCaseInsensitive": lambda a: (
        f"size(regexp_extract_all({a[0]}, "
        f"concat('(?i)', {a[1]}), 0))"
    ),
    # Bare (non-parametric) exclusive-quantile forms: CH defaults
    # the level to 0.5; the parametric rewrite handled only the
    # name(levels)(x) shape, so these fell to UNRESOLVED_ROUTINE.
    "quantileExactExclusive": lambda a: (
        _quantile_exclusive_expr(a[0], ["0.5"], single=True)
        if len(a) == 1
        else _refuse(
            "quantileExactExclusive takes one argument; spell "
            "levels parametrically: quantileExactExclusive(p)(x)"
        )
    ),
    "quantilesExactExclusive": lambda a: _refuse(
        "quantilesExactExclusive needs its levels parametrically: "
        "quantilesExactExclusive(p1, p2, ...)(x)"
    ),
    "quantileExactExclusiveArray": lambda a: (
        _quantile_exclusive_expr(a[0], ["0.5"], single=True,
                                 arrays=True)
        if len(a) == 1
        else _refuse(
            "quantileExactExclusiveArray takes one array argument; "
            "spell levels parametrically: "
            "quantileExactExclusiveArray(p)(arr)"
        )
    ),
    # Bare (default-level 0.5) forms of the rest of the parametric
    # quantile family — CH serves every quantileX(x[, w]) at the
    # median; only the name(levels)(args) shape went through the
    # parametric rewrite, so these fell to UNRESOLVED_ROUTINE
    # (round-11 sweep of the CH 23.6 aggregate index).
    "quantile": lambda a: (
        f"percentile_approx({a[0]}, 0.5)"
        if len(a) == 1
        else _refuse(
            "quantile takes one argument; spell levels "
            "parametrically: quantile(p)(x)"
        )
    ),
    "quantileExact": lambda a: (
        f"percentile({a[0]}, 0.5)"
        if len(a) == 1
        else _refuse(
            "quantileExact takes one argument; spell levels "
            "parametrically: quantileExact(p)(x)"
        )
    ),
    "quantileExactLow": lambda a: (
        f"element_at(array_sort(collect_list({a[0]})), "
        f"CAST(floor(0.5 * (count({a[0]}) - 1)) AS INT) + 1)"
    ),
    "quantileExactHigh": lambda a: (
        f"element_at(array_sort(collect_list({a[0]})), "
        f"CAST(ceil(0.5 * (count({a[0]}) - 1)) AS INT) + 1)"
    ),
    "quantileTiming": lambda a: f"percentile_approx({a[0]}, 0.5)",
    "quantileTDigest": lambda a: f"percentile_approx({a[0]}, 0.5)",
    "quantileBFloat16": lambda a: f"percentile_approx({a[0]}, 0.5)",
    # Bare weighted forms: Spark percentile's frequency argument.
    "quantileExactWeighted": _bare_weighted_median,
    "quantileInterpolatedWeighted": _bare_weighted_median,
    "quantileTimingWeighted": _bare_weighted_median,
    "quantileTDigestWeighted": _bare_weighted_median,
    "quantileBFloat16Weighted": _bare_weighted_median,
    "medianExactWeighted": _bare_weighted_median,
    "medianInterpolatedWeighted": _bare_weighted_median,
    "medianTimingWeighted": _bare_weighted_median,
    "medianTDigestWeighted": _bare_weighted_median,
    "medianBFloat16Weighted": _bare_weighted_median,
    # medianDeterministic(x, determinator): the determinator only
    # seeds CH's reservoir sampling — this engine is deterministic.
    "medianDeterministic": lambda a: (
        f"percentile_approx({a[0]}, 0.5)"
    ),
    "quantiles": lambda a: _refuse(
        "quantiles needs its levels parametrically: "
        "quantiles(p1, p2, ...)(x)"
    ),
    "quantilesExact": lambda a: _refuse(
        "quantilesExact needs its levels parametrically: "
        "quantilesExact(p1, p2, ...)(x)"
    ),
    "translateUTF8": lambda a: f"translate({', '.join(a)})",
    "regexpExtract": lambda a: f"regexp_extract({', '.join(a)})",
    # uptime(): seconds since this engine process started (the
    # single warm session IS the "server"); folded to a literal at
    # transpile time like CH folds it per query.
    "uptime": lambda a: (
        f"CAST({int(_time.time() - _PROCESS_START)} AS BIGINT)"
    ),
})


def _ipv4_valid(s: str) -> str:
    return (
        f"(regexp_like({s}, '^([0-9]{{1,3}}\\\\.){{3}}[0-9]{{1,3}}$') "
        f"AND forall(split({s}, '\\\\.'), "
        f"__o -> CAST(__o AS INT) <= 255))"
    )


def _parse_readable_size(mode: str):
    """parseReadableSize[OrNull|OrZero]('1.5 KiB') → bytes (BIGINT,
    rounded): decimal (KB=1000ⁿ) and binary (KiB=1024ⁿ) units. The
    base form raises on malformed input; OrNull/OrZero substitute."""
    units = {"B": 1}
    for i, u in enumerate("KMGTPE", start=1):
        units[f"{u}IB"] = 1024 ** i
        units[f"{u}B"] = 1000 ** i

    # A strict number shape ('1', '1.5', '.5' — NOT '1.2.3'): the
    # valid-check must never admit a string whose CAST to DOUBLE can
    # fail, or the Or-variants error under ANSI instead of
    # substituting.
    num_re = "(?:[0-9]+(?:\\\\.[0-9]*)?|\\\\.[0-9]+)"

    def build(a: list[str]) -> str:
        s = a[0]
        num = (
            f"CAST(regexp_extract({s}, '^\\\\s*({num_re})', 1) "
            f"AS DOUBLE)"
        )
        unit = (
            f"upper(regexp_extract({s}, "
            f"'^\\\\s*{num_re}\\\\s*([A-Za-z]+)\\\\s*$', 1))"
        )
        mult = "CASE " + " ".join(
            f"WHEN {unit} = '{u}' THEN CAST({m} AS DOUBLE)"
            for u, m in units.items()
        ) + " END"
        valid = (
            f"(regexp_like({s}, "
            f"'^\\\\s*{num_re}\\\\s*[A-Za-z]+\\\\s*$') "
            f"AND {mult} IS NOT NULL)"
        )
        good = f"CAST(round({num} * {mult}) AS BIGINT)"
        if mode == "null":
            return f"IF({valid}, {good}, CAST(NULL AS BIGINT))"
        if mode == "zero":
            return f"IF({valid}, {good}, CAST(0 AS BIGINT))"
        return (
            f"IF({valid}, {good}, CAST(raise_error(concat("
            f"'parse readable size: cannot parse ', {s}, "
            f"' — expected <number> <unit> with unit in "
            f"B/KiB..EiB/KB..EB')) AS BIGINT))"
        )

    return build


def _bit_test_multi(op: str):
    def build(a: list[str]) -> str:
        if len(a) < 2:
            raise ValueError(
                "bitTestAll/bitTestAny take a value and at least "
                "one bit position"
            )
        bits = [
            f"(shiftright(CAST({a[0]} AS BIGINT), CAST({p} AS INT)) & 1)"
            for p in a[1:]
        ]
        return f"CAST(({(' ' + op + ' ').join(bits)}) AS INT)"

    return build


def _extract_kvp_builder(a: list[str]) -> str:
    """extractKeyValuePairs(s[, kv_sep, pair_seps]) → Map(String,
    String) via str_to_map. Defaults mirror CH (':' key/value, ',',
    ';' and space pair separators). Custom separators must be string
    literals (they compile into the split regexes); the quoting
    argument is refused — Spark's str_to_map has no quote-aware
    mode."""
    if len(a) > 3:
        raise ValueError(
            "extractKeyValuePairs quoting_character is not supported "
            "(str_to_map has no quote-aware split); pre-clean the "
            "input or use 3 or fewer arguments"
        )

    def lit_chars(arg: str, what: str) -> str:
        v = arg.strip()
        if not (v.startswith("'") and v.endswith("'")):
            raise ValueError(
                f"extractKeyValuePairs: {what} must be a string "
                "literal"
            )
        return re.escape(v[1:-1]).replace("\\", "\\\\")

    kv = lit_chars(a[1], "key_value_delimiter") if len(a) > 1 else ":"
    pairs = (
        f"[{lit_chars(a[2], 'pair_delimiters')}]+"
        if len(a) > 2
        else "[,;\\\\s]+"
    )
    return f"str_to_map({a[0]}, '{pairs}', '{kv}')"


_ARG_REWRITES.update({
    # -- round-7 probe tranche 2: search/parse/server/bit/UUID gaps --
    # Leftmost match position among the needles (0 when none) — the
    # transform evaluates each needle's locate once.
    "multiSearchFirstPosition": lambda a: (
        f"coalesce(array_min(filter(transform({a[1]}, "
        f"__n -> locate(__n, {a[0]})), __p -> __p > 0)), 0)"
    ),
    "extractKeyValuePairs": _extract_kvp_builder,
    "parseReadableSize": _parse_readable_size("raise"),
    "parseReadableSizeOrNull": _parse_readable_size("null"),
    "parseReadableSizeOrZero": _parse_readable_size("zero"),
    "bitTestAll": _bit_test_multi("&"),
    "bitTestAny": _bit_test_multi("|"),
    # erfinv(x) = Φ⁻¹((x+1)/2)/√2 over the Acklam probit UDF.
    "erfInv": lambda a: (
        f"(bh_norm_ppf((CAST({a[0]} AS DOUBLE) + 1) / 2) "
        f"/ 1.4142135623730951)"
    ),
    # UUIDv7's first 48 bits are the Unix-epoch milliseconds.
    "UUIDv7ToDateTime": lambda a: (
        f"timestamp_millis(CAST(conv(substring(replace({a[0]}, "
        f"'-', ''), 1, 12), 16, 10) AS BIGINT))"
    ),
    "toUUIDOrZero": lambda a: (
        f"(CASE WHEN regexp_like({a[0]}, "
        f"'^[0-9a-fA-F]{{8}}-[0-9a-fA-F]{{4}}-[0-9a-fA-F]{{4}}-"
        f"[0-9a-fA-F]{{4}}-[0-9a-fA-F]{{12}}$') THEN {a[0]} "
        f"ELSE '00000000-0000-0000-0000-000000000000' END)"
    ),
    # Server-identity constants, folded per query like uptime().
    "getOSKernelVersion": lambda a: (
        "'" + __import__("platform").release() + "'"
    ),
    "displayName": lambda a: "'bighouse'",
    # chwire.SERVER_REVISION — hardcoded to avoid a transpile→chwire
    # import cycle; test_dialect pins the two together.
    "revision": lambda a: "CAST(54429 AS BIGINT)",
    # PostgreSQL/MySQL-compat introspection CH also ships:
    # currentSchemas → the one-database search path; connectionId is
    # 0 (per-query sessions have no persistent MySQL thread id).
    "currentSchemas": lambda a: "array(current_database())",
    "connectionId": lambda a: "CAST(0 AS BIGINT)",
    "connection_id": lambda a: "CAST(0 AS BIGINT)",
    # Guided refusals for the genuinely unshippable tails.
    "multiFuzzyMatchAny": lambda a: (_ for _ in ()).throw(
        ValueError(
            "multiFuzzyMatchAny() needs a fuzzy regex engine "
            "(hyperscan) that does not ship; combine multiMatchAny "
            "with editDistance checks"
        )
    ),
    "firstSignificantSubdomainCustom": lambda a: (_ for _ in ()).throw(
        ValueError(
            "firstSignificantSubdomainCustom() needs a configured "
            "public-suffix list; firstSignificantSubdomain uses the "
            "built-in heuristic"
        )
    ),
    "zookeeperSessionUptime": lambda a: (_ for _ in ()).throw(
        ValueError(
            "zookeeperSessionUptime(): no ZooKeeper in this engine; "
            "uptime() reports the server process uptime"
        )
    ),
    "nested": lambda a: (_ for _ in ()).throw(
        ValueError(
            "nested() Nested-type assembly: build arrays of structs "
            "with arrayZip(names, values) / named_struct instead"
        )
    ),
})


_ARG_REWRITES.update({
    # simpleLinearRegression(x, y) → (k, b): closed-form least
    # squares over plain JVM aggregates (Catalyst dedups them);
    # degenerate x-variance floor-guards to avoid ANSI
    # DIVIDE_BY_ZERO (slope → huge, matching the limit, not a crash).
    "simpleLinearRegression": lambda a: (
        lambda x, y: (
        lambda k: (
            f"named_struct('k', {k}, "
            f"'b', avg(CAST({y} AS DOUBLE)) - ({k}) * "
            f"avg(CAST({x} AS DOUBLE)))"
        ))(
            f"((avg(CAST({x} AS DOUBLE) * CAST({y} AS DOUBLE)) - "
            f"avg(CAST({x} AS DOUBLE)) * avg(CAST({y} AS DOUBLE))) / "
            f"greatest(avg(CAST({x} AS DOUBLE) * CAST({x} AS DOUBLE))"
            f" - avg(CAST({x} AS DOUBLE)) * avg(CAST({x} AS DOUBLE)), "
            f"CAST(1e-300 AS DOUBLE)))"
        )
    )(a[0], a[1]),
    "toIPv4OrNull": lambda a: (
        f"IF({_ipv4_valid(a[0])}, "
        + _ARG_REWRITES["toIPv4"]([a[0]])
        + ", CAST(NULL AS STRING))"
    ),
    "IPv4StringToNumOrNull": lambda a: (
        f"IF({_ipv4_valid(a[0])}, "
        + _ARG_REWRITES["IPv4StringToNum"]([a[0]])
        + ", CAST(NULL AS BIGINT))"
    ),
    "IPv4StringToNumOrDefault": lambda a: (
        f"IF({_ipv4_valid(a[0])}, "
        + _ARG_REWRITES["IPv4StringToNum"]([a[0]])
        + ", CAST(0 AS BIGINT))"
    ),
})

# Round-5 probe tranche: date/math/array/map/search spellings with
# exact Spark expression equivalents, plus guided refusals for the
# genuinely two-pass aggregates (contingency-table statistics).
_ARG_REWRITES.update({
    # -- date/time --
    "makeDateTime": lambda a: f"make_timestamp({', '.join(a[:6])})",
    "date_diff": lambda a: (
        f"timestampdiff({_unquote(a[0])}, {a[1]}, {a[2]})"
    ),
    "parseDateTime": lambda a: (
        f"to_timestamp({a[0]}, {_translate_dt_format(a[1])})"
    ),
    "parseDateTimeOrNull": lambda a: (
        f"try_to_timestamp({a[0]}, {_translate_dt_format(a[1])})"
    ),
    # Relative-to-epoch bucket numbers (CH uses them as coarse
    # monotonic bucket keys; same epoch, same buckets).
    "toRelativeDayNum": lambda a: f"datediff({a[0]}, DATE'1970-01-01')",
    "toRelativeSecondNum": lambda a: f"unix_timestamp({a[0]})",
    # -- math --
    "exp2": lambda a: f"pow(2, {a[0]})",
    "exp10": lambda a: f"pow(10, {a[0]})",
    "intExp2": lambda a: (
        f"shiftleft(CAST(1 AS BIGINT), CAST({a[0]} AS INT))"
    ),
    "intExp10": lambda a: (
        f"CAST(round(pow(10, {a[0]})) AS BIGINT)"
    ),
    "isFinite": lambda a: (
        f"((NOT isnan(CAST({a[0]} AS DOUBLE))) AND "
        f"abs(CAST({a[0]} AS DOUBLE)) != double('Infinity'))"
    ),
    "isInfinite": lambda a: (
        f"(abs(CAST({a[0]} AS DOUBLE)) = double('Infinity'))"
    ),
    "clamp": lambda a: f"least(greatest({a[0]}, {a[1]}), {a[2]})",
    "countDigits": lambda a: (
        f"length(regexp_replace(CAST(abs({a[0]}) AS STRING), "
        f"'[^0-9]', ''))"
    ),
    # CH's fixed rounding ladders (monitoring bucketizers).
    "roundDuration": lambda a: (
        f"(CASE WHEN ({a[0]}) < 1 THEN 0 "
        + " ".join(
            f"WHEN ({a[0]}) < {nxt} THEN {cur}"
            for cur, nxt in zip(
                (1, 10, 30, 60, 120, 180, 240, 300, 600, 1200, 1800,
                 3600, 7200, 18000),
                (10, 30, 60, 120, 180, 240, 300, 600, 1200, 1800,
                 3600, 7200, 18000, 36000),
            )
        )
        + " ELSE 36000 END)"
    ),
    "roundAge": lambda a: (
        f"(CASE WHEN ({a[0]}) < 1 THEN 0 "
        f"WHEN ({a[0]}) < 18 THEN 17 "
        f"WHEN ({a[0]}) < 25 THEN 18 "
        f"WHEN ({a[0]}) < 35 THEN 25 "
        f"WHEN ({a[0]}) < 45 THEN 35 "
        f"WHEN ({a[0]}) < 55 THEN 45 ELSE 55 END)"
    ),
    # -- strings / search --
    "alphaTokens": lambda a: (
        f"filter(split({a[0]}, '[^a-zA-Z]+'), __t -> __t != '')"
    ),
    "splitByNonAlpha": lambda a: (
        f"filter(split({a[0]}, '[^a-zA-Z0-9]+'), __t -> __t != '')"
    ),
    # arrays_zip pads the shorter arrays with NULL natively.
    "arrayZipUnaligned": lambda a: f"arrays_zip({', '.join(a)})",
    "leftPadUTF8": lambda a: f"lpad({', '.join(a)})",
    "rightPadUTF8": lambda a: f"rpad({', '.join(a)})",
    "countSubstringsCaseInsensitive": lambda a: (
        f"CAST((length({a[0]}) - length(replace(lower({a[0]}), "
        f"lower({a[1]}), ''))) / length({a[1]}) AS INT)"
    ),
    "multiSearchAllPositions": lambda a: (
        f"transform({a[1]}, __n -> locate(__n, {a[0]}))"
    ),
    "multiMatchAny": lambda a: (
        f"exists({a[1]}, __p -> regexp_like({a[0]}, __p))"
    ),
    # Index twins: 1-based first-matching-pattern index (0 when
    # none, the CH contract); NULL haystack/patterns propagate NULL
    # like the sibling multiMatchAny.
    "multiMatchAnyIndex": lambda a: (
        f"IF(({a[0]}) IS NULL OR ({a[1]}) IS NULL, "
        f"CAST(NULL AS INT), "
        f"coalesce(CAST(array_position(transform({a[1]}, "
        f"__p -> regexp_like({a[0]}, __p)), true) AS INT), 0))"
    ),
    "multiMatchAllIndices": lambda a: (
        f"IF(({a[0]}) IS NULL OR ({a[1]}) IS NULL, "
        f"CAST(NULL AS ARRAY<INT>), "
        f"filter(transform({a[1]}, (__p, __i) -> "
        f"IF(regexp_like({a[0]}, __p), __i + 1, -1)), "
        f"__x -> __x > 0))"
    ),
    # Subsequence check as a single left-to-right fold over the
    # haystack's characters (greedy matching is exact here).
    "hasSubsequence": lambda a: (
        f"(aggregate(split({a[0]}, ''), 0, (__acc, __c) -> "
        f"IF(__acc < length({a[1]}) AND "
        f"__c = substring({a[1]}, __acc + 1, 1), __acc + 1, __acc)) "
        f"= length({a[1]}))"
    ),
    # -- arrays --
    # greatest(...) keeps the sequence ascending when size < n; the
    # filter then drops the one undersized window, so the empty-array
    # case needs no typed empty literal.
    "arrayShingles": lambda a: (
        f"filter(transform(sequence(1, greatest(size({a[0]}) - ({a[1]}) "
        f"+ 1, 1)), __i -> slice({a[0]}, __i, {a[1]})), "
        f"__s -> size(__s) = ({a[1]}))"
    ),
    "arrayCumSumNonNegative": lambda a: (
        f"(aggregate({a[0]}, "
        f"named_struct('acc', CAST(array() AS ARRAY<DOUBLE>), "
        f"'run', CAST(0 AS DOUBLE)), "
        f"(__s, __x) -> named_struct("
        f"'acc', concat(__s.acc, array(greatest(__s.run + __x, 0D))), "
        f"'run', greatest(__s.run + __x, 0D))).acc)"
    ),
    # arrayAUC(scores, labels): exact pairwise formula
    # (Σ_pos Σ_neg [s_p > s_n] + ½[s_p = s_n]) / (n_pos · n_neg),
    # O(n²) inside one expression — arrays are per-row small.
    "arrayAUC": lambda a: (
        f"(CAST(aggregate(filter(sequence(1, size({a[0]})), "
        f"__i -> element_at({a[1]}, __i) != 0), 0D, (__acc, __i) -> "
        f"__acc + aggregate(filter(sequence(1, size({a[0]})), "
        f"__j -> element_at({a[1]}, __j) = 0), 0D, (__a2, __j) -> "
        f"__a2 + (CASE WHEN element_at({a[0]}, __i) > "
        f"element_at({a[0]}, __j) THEN 1D WHEN element_at({a[0]}, __i) "
        f"= element_at({a[0]}, __j) THEN 0.5D ELSE 0D END))) AS DOUBLE) "
        f"/ (size(filter({a[1]}, __l -> __l != 0)) * "
        f"size(filter({a[1]}, __l -> __l = 0))))"
    ),
    # arrayROCAUC is the renamed modern spelling of arrayAUC.
    "arrayROCAUC": lambda a: _ARG_REWRITES["arrayAUC"](a),
    # groupArrayIntersect: intersection of the group's arrays —
    # -ForEach-style fold with array_intersect (empty input → []).
    "groupArrayIntersect": lambda a: _foreach_intersect(a[0]),
    # -- tuples / maps --
    # Star-expansion of an arbitrary struct EXPRESSION isn't legal in
    # Spark ("expr.*" needs an attribute); inline(array(x)) expands
    # any struct into its fields as columns.
    "untuple": lambda a: f"inline(array({a[0]}))",
    "mapExtractKeyLike": lambda a: (
        f"map_filter({a[0]}, (__k, __v) -> __k LIKE {a[1]})"
    ),
    "mapAdd": lambda a: (
        f"map_zip_with({a[0]}, {a[1]}, "
        f"(__k, __v1, __v2) -> coalesce(__v1, 0) + coalesce(__v2, 0))"
    ),
    "mapSubtract": lambda a: (
        f"map_zip_with({a[0]}, {a[1]}, "
        f"(__k, __v1, __v2) -> coalesce(__v1, 0) - coalesce(__v2, 0))"
    ),
    "mapPopulateSeries": lambda a: (
        f"map_from_arrays("
        f"sequence(array_min(map_keys({a[0]})), "
        + (f"{a[1]}" if len(a) > 1 else f"array_max(map_keys({a[0]}))")
        + f"), transform(sequence(array_min(map_keys({a[0]})), "
        + (f"{a[1]}" if len(a) > 1 else f"array_max(map_keys({a[0]}))")
        + f"), __k -> coalesce(element_at({a[0]}, __k), 0)))"
    ),
    # -- aggregates --
    "sumCount": lambda a: (
        f"named_struct('sum', sum({a[0]}), 'count', count({a[0]}))"
    ),
    # Interop hashes whose ONLY use is their exact value — bit-exact
    # UDF implementations (functions/miscfuncs.py), string input only
    # like CH's string-hash path: javaHash/hiveHash (JVM),
    # kafkaMurmurHash (Kafka partition parity, high bit dropped),
    # gccMurmurHash (libstdc++ std::hash parity).
    "javaHash": lambda a: f"bh_java_hash({_one_str_arg('javaHash', a)})",
    # Over TEXT the UTF16LE variant IS Java String.hashCode (UTF-16
    # code units — bh_java_hash already walks them), and
    # convertCharset is identity here, so CH's documented
    # javaHashUTF16LE(convertCharset(s, 'utf-8', 'utf-16le')) idiom
    # lands on the same value ('test' → 3556498).
    "javaHashUTF16LE": lambda a: (
        f"bh_java_hash({_one_str_arg('javaHashUTF16LE', a)})"
    ),
    "hiveHash": lambda a: f"bh_hive_hash({_one_str_arg('hiveHash', a)})",
    "gccMurmurHash": lambda a: (
        f"bh_gcc_murmur({_one_str_arg('gccMurmurHash', a)})"
    ),
    "kafkaMurmurHash": lambda a: (
        f"bh_kafka_murmur({_one_str_arg('kafkaMurmurHash', a)})"
    ),
    # 64-bit capability twins (same contract as cityHash64→xxhash64:
    # deterministic 64-bit hash, bit-compat out of scope).
    "metroHash64": lambda a: f"xxhash64({', '.join(a)})",
    "wyHash64": lambda a: f"xxhash64({', '.join(a)})",
    "murmurHash2_64": lambda a: f"xxhash64({', '.join(a)})",
    "intHash64": lambda a: f"xxhash64(CAST({a[0]} AS BIGINT))",
    # intHash32 returns UInt32: fold the 64-bit twin into [0, 2^32).
    "intHash32": lambda a: (
        f"pmod(xxhash64(CAST({a[0]} AS BIGINT)), 4294967296)"
    ),
    # URLHash normalizes by trimming ONE trailing /, ? or # before
    # hashing; the 2-arg form hashes level N of the URL hierarchy,
    # where level 0 is the bare scheme://host (hierarchy element 1 —
    # ADVICE r10 closed the one-level shift and the N=0 crash).
    "URLHash": lambda a: (
        f"xxhash64(regexp_replace({a[0]}, '[/?#]$', ''))"
        if len(a) == 1
        else (
            f"xxhash64(regexp_replace(try_element_at("
            + _url_hierarchy_expr(a[0])
            + f", CAST({a[1]} AS INT) + 1), '[/?#]$', ''))"
        )
    ),
    "murmurHash3_64": lambda a: f"xxhash64({', '.join(a)})",
    "xxHash3": lambda a: f"xxhash64({', '.join(a)})",
    "xxHash32": lambda a: f"hash({', '.join(a)})",
    "murmurHash2_32": lambda a: f"hash({', '.join(a)})",
    "murmurHash3_32": lambda a: f"hash({', '.join(a)})",
    # 128-bit capability twins → md5 (128-bit, hex string).
    "murmurHash3_128": lambda a: (
        f"md5(concat_ws('\\001', {', '.join(a)}))"
    ),
    "sipHash128": lambda a: f"md5(concat_ws('\\001', {', '.join(a)}))",
    # formatReadable family (the 1024-based Size form already exists).
    "formatReadableDecimalSize": lambda a: (
        f"(CASE WHEN abs({a[0]}) < 1000 THEN "
        f"concat(format_number(CAST({a[0]} AS DOUBLE), 2), ' B') "
        f"WHEN abs({a[0]}) < 1000000 THEN "
        f"concat(format_number({a[0]} / 1000, 2), ' KB') "
        f"WHEN abs({a[0]}) < 1000000000 THEN "
        f"concat(format_number({a[0]} / 1000000, 2), ' MB') "
        f"WHEN abs({a[0]}) < 1000000000000 THEN "
        f"concat(format_number({a[0]} / 1000000000, 2), ' GB') "
        f"ELSE concat(format_number({a[0]} / 1000000000000, 2), ' TB') "
        f"END)"
    ),
    "formatReadableTimeDelta": lambda a: (
        f"concat_ws(', ', filter(array("
        f"IF(floor(({a[0]}) / 86400) > 0, "
        f"concat(CAST(CAST(floor(({a[0]}) / 86400) AS BIGINT) "
        f"AS STRING), ' days'), NULL), "
        f"IF(floor(({a[0]}) % 86400 / 3600) > 0, "
        f"concat(CAST(CAST(floor(({a[0]}) % 86400 / 3600) AS BIGINT) "
        f"AS STRING), ' hours'), NULL), "
        f"IF(floor(({a[0]}) % 3600 / 60) > 0, "
        f"concat(CAST(CAST(floor(({a[0]}) % 3600 / 60) AS BIGINT) "
        f"AS STRING), ' minutes'), NULL), "
        f"IF(({a[0]}) % 60 > 0 OR ({a[0]}) < 60, "
        f"concat(CAST(CAST(({a[0]}) % 60 AS BIGINT) AS STRING), "
        f"' seconds'), NULL)), __p -> __p IS NOT NULL))"
    ),
    # -- UDF-backed spellings (registered lazily per session) --
    "damerauLevenshteinDistance": lambda a: (
        f"bh_damerau({a[0]}, {a[1]})"
    ),
    "jaroSimilarity": lambda a: f"bh_jaro({a[0]}, {a[1]})",
    "jaroWinklerSimilarity": lambda a: (
        f"bh_jaro_winkler({a[0]}, {a[1]})"
    ),
    "base58Encode": lambda a: f"bh_base58_encode({a[0]})",
    "base58Decode": lambda a: f"bh_base58_decode({a[0]})",
    "base32Encode": lambda a: f"bh_base32_encode({a[0]})",
    "base32Decode": lambda a: f"bh_base32_decode({a[0]})",
    "punycodeEncode": lambda a: f"bh_punycode_encode({a[0]})",
    "punycodeDecode": lambda a: f"bh_punycode_decode({a[0]})",
    # '' on invalid input; NULL input stays NULL (the decode UDF
    # passes None through, so coalesce alone cannot tell them apart)
    "tryPunycodeDecode": lambda a: (
        f"IF(({a[0]}) IS NULL, CAST(NULL AS STRING), "
        f"coalesce(bh_punycode_decode({a[0]}), ''))"
    ),
    "erf": lambda a: f"bh_erf(CAST({a[0]} AS DOUBLE))",
    "erfc": lambda a: f"bh_erfc(CAST({a[0]} AS DOUBLE))",
    "lgamma": lambda a: f"bh_lgamma(CAST({a[0]} AS DOUBLE))",
    "tgamma": lambda a: f"bh_tgamma(CAST({a[0]} AS DOUBLE))",
    "maxMap": lambda a: _map_agg_fold(
        a, "(__k, __a, __b) -> greatest(__a, __b)"
    ),
    "minMap": lambda a: _map_agg_fold(
        a, "(__k, __a, __b) -> least(__a, __b)"
    ),
    # -- guided refusals: genuinely not single-pass expressions --
    "entropy": lambda a: _entropy_builder(a),
    "cramersV": _contingency_builder("cramersV"),
    "cramersVBiasCorrected": _contingency_builder(
        "cramersVBiasCorrected"
    ),
    "theilsU": _contingency_builder("theilsU"),
    "contingency": _contingency_builder("contingency"),
    "mannWhitneyUTest": lambda a: _mwu_builder(a),
    "kolmogorovSmirnovTest": lambda a: _ks_test_builder(a),
    "meanZTest": lambda a: (_ for _ in ()).throw(
        ValueError(
            "meanZTest requires its parameters: "
            "meanZTest(population_variance_x, population_variance_y, "
            "confidence_level)(x, sample_index)"
        )
    ),
    "andersonDarlingTest": lambda a: (_ for _ in ()).throw(
        ValueError(
            "andersonDarlingTest() needs the ordered ECDF weighted "
            "sum; sort with rank() OVER (ORDER BY value) and fold "
            "the A2 statistic; the p-value needs the AD CDF"
        )
    ),
    "categoricalInformationValue": lambda a: _civ_builder(a),
    # estimateCompressionRatio(x) (bare form defaults to lz4, CH's
    # default codec): the wire LZ4 codec measured over the group's
    # serialized values — a grouped-agg pandas UDF.
    "estimateCompressionRatio": lambda a: _ecr_builder([], a),
    "studentTTest": lambda a: _ttest_builder("studentTTest")(a),
    "welchTTest": lambda a: _ttest_builder("welchTTest")(a),
    "largestTriangleThreeBuckets": lambda a: (_ for _ in ()).throw(
        ValueError(
            "largestTriangleThreeBuckets requires its parameter: "
            "largestTriangleThreeBuckets(n)(x, y)"
        )
    ),
    "arraySplit": _array_split_builder(False),
    "wordShingleMinHash": lambda a: (_ for _ in ()).throw(
        ValueError(
            "wordShingleMinHash() is served by the dedup operator "
            "library (operators/dedup.py minhash_lsh_pairs) — "
            "per-value minhash tuples are not exposed as a scalar"
        )
    ),
    # stem('en', x): the published Porter (1980) algorithm, English
    # only (functions/porter.py — CH links Snowball/Porter2, a later
    # revision; divergence documented there). Other languages need
    # Snowball rule files that don't ship → guided error.
    "stem": lambda a: _stem_builder(a),
    "byteSize": lambda a: _byte_size_builder(a),
    "formatRow": lambda a: (_ for _ in ()).throw(
        ValueError(
            "formatRow() renders FORMAT output per row; use the HTTP "
            "interface's FORMAT renderers instead"
        )
    ),
    "formatRowNoNewline": lambda a: (_ for _ in ()).throw(
        ValueError(
            "formatRowNoNewline() renders FORMAT output per row; use "
            "the HTTP interface's FORMAT renderers instead"
        )
    ),
    "proportionsZTest": lambda a: _proportions_z_builder(a),
    # WKT geometry text I/O: the engine's geo surface is numeric
    # (greatCircle*/pointInPolygon/polygon*Cartesian/geohash*); WKT
    # parsing/rendering of Ring/Polygon/MultiPolygon needs a geometry
    # type system that doesn't ship. Same posture as h3.
    **{
        name: (lambda n: lambda a: (_ for _ in ()).throw(
            ValueError(
                f"{n} needs a WKT geometry type system that does not "
                "ship with the engine; use the numeric geo functions "
                "(pointInPolygon, polygonAreaCartesian, geohashEncode/"
                "Decode) on coordinate tuples instead"
            )
        ))(name)
        for name in (
            "wkt", "readWKTPoint", "readWKTRing", "readWKTPolygon",
            "readWKTMultiPolygon", "readWKTLineString",
        )
    },
})

# Round-5 probe tranche 3: calendar epochs, UUID/bool conversions,
# SHA/halfMD5, random distributions, time slots, dot products, geo,
# Unicode normalization — plus refusals for dictionary-backed and
# per-block spellings.
_ARG_REWRITES.update({
    # -- calendar epochs --
    # Days since 0000-01-01 proleptic Gregorian; year 0 is a leap
    # year, so the 0001-01-01 anchor Spark can represent is day 366.
    "toDaysSinceYearZero": lambda a: (
        f"(datediff(CAST({a[0]} AS DATE), DATE'0001-01-01') + 366)"
    ),
    "fromDaysSinceYearZero": lambda a: (
        f"date_add(DATE'0001-01-01', CAST(({a[0]}) - 366 AS INT))"
    ),
    "toModifiedJulianDay": lambda a: (
        f"datediff(CAST({a[0]} AS DATE), DATE'1858-11-17')"
    ),
    "toModifiedJulianDayOrNull": lambda a: (
        f"datediff(TRY_CAST({a[0]} AS DATE), DATE'1858-11-17')"
    ),
    # CH String holds bytes; CutToZero trims at the first NUL (the
    # FixedString padding byte).
    "toStringCutToZero": lambda a: (
        f"substring_index({a[0]}, chr(0), 1)"
    ),
    "fromModifiedJulianDay": lambda a: (
        f"date_add(DATE'1858-11-17', CAST({a[0]} AS INT))"
    ),
    # ISO (CH mode-3) twin; CH's default mode 0 differs by week-start
    # convention — documented deviation.
    "toYearWeek": lambda a: (
        f"(extract(YEAROFWEEK FROM {a[0]}) * 100 + weekofyear({a[0]}))"
    ),
    "positiveModulo": lambda a: f"pmod({a[0]}, {a[1]})",
    "positive_modulo": lambda a: f"pmod({a[0]}, {a[1]})",
    # timeSlots(start, duration[, size=1800]): the rounded window
    # starts the interval overlaps.
    "timeSlots": lambda a: (
        lambda sz: (
            f"transform(sequence("
            f"CAST(floor(unix_timestamp({a[0]}) / ({sz})) AS BIGINT), "
            f"CAST(floor((unix_timestamp({a[0]}) + ({a[1]})) / ({sz})) "
            f"AS BIGINT)), __i -> timestamp_seconds(__i * ({sz})))"
        )
    )(a[2] if len(a) > 2 else 1800),
    "singleValueOrNull": lambda a: (
        f"(CASE WHEN count(DISTINCT {a[0]}) = 1 THEN max({a[0]}) END)"
    ),
    # -- UUID / bool conversions (UUIDs are strings here) --
    "toUUID": lambda a: f"({a[0]})",
    "toUUIDOrNull": lambda a: (
        f"(CASE WHEN regexp_like({a[0]}, "
        f"'^[0-9a-fA-F]{{8}}-[0-9a-fA-F]{{4}}-[0-9a-fA-F]{{4}}-"
        f"[0-9a-fA-F]{{4}}-[0-9a-fA-F]{{12}}$') THEN {a[0]} END)"
    ),
    "UUIDStringToNum": lambda a: (
        f"to_binary(replace({a[0]}, '-', ''), 'hex')"
    ),
    "UUIDNumToString": lambda a: (
        f"lower(concat(substring(hex({a[0]}), 1, 8), '-', "
        f"substring(hex({a[0]}), 9, 4), '-', "
        f"substring(hex({a[0]}), 13, 4), '-', "
        f"substring(hex({a[0]}), 17, 4), '-', "
        f"substring(hex({a[0]}), 21, 12)))"
    ),
    "toBool": lambda a: f"CAST({a[0]} AS BOOLEAN)",
    # -- digest functions (CH returns FixedString bytes) --
    "SHA1": lambda a: f"to_binary(sha1({a[0]}), 'hex')",
    "SHA224": lambda a: f"to_binary(sha2({a[0]}, 224), 'hex')",
    "SHA256": lambda a: f"to_binary(sha2({a[0]}, 256), 'hex')",
    "SHA384": lambda a: f"to_binary(sha2({a[0]}, 384), 'hex')",
    "SHA512": lambda a: f"to_binary(sha2({a[0]}, 512), 'hex')",
    # First 8 md5 bytes as an unsigned 64-bit integer.
    "halfMD5": lambda a: (
        f"CAST(conv(substring(md5({a[0]}), 1, 16), 16, 10) "
        f"AS DECIMAL(20, 0))"
    ),
    # -- random distributions --
    "randUniform": lambda a: (
        f"(({a[0]}) + rand() * (({a[1]}) - ({a[0]})))"
    ),
    "randNormal": lambda a: (
        f"(({a[0]}) + ({a[1]}) * sqrt(-2 * ln(rand())) "
        f"* cos(2 * pi() * rand()))"
    ),
    "randExponential": lambda a: f"(-ln(rand()) / ({a[0]}))",
    "randCanonical": lambda a: "rand()",
    # Constant WITHIN a query, fresh across queries: fold to a
    # literal at transpile time (a scalar subquery over rand() gets
    # inlined per-row by Catalyst, breaking the constant contract).
    "randConstant": lambda a: (
        f"CAST({_random.randint(0, 4294967295)} AS BIGINT)"
    ),
    # -- vector products --
    "arrayDotProduct": lambda a: (
        f"aggregate(zip_with({a[0]}, {a[1]}, "
        f"(__x, __y) -> CAST(__x AS DOUBLE) * __y), 0D, "
        f"(__acc, __v) -> __acc + __v)"
    ),
    "scalarProduct": lambda a: _dot_product_builder(a),
    # pointInEllipses(x, y, x0, y0, a0, b0, ...): any ellipse holds.
    "pointInEllipses": lambda a: (
        "("
        + " OR ".join(
            f"(pow((({a[0]}) - ({a[i]})) / ({a[i + 2]}), 2) + "
            f"pow((({a[1]}) - ({a[i + 1]})) / ({a[i + 3]}), 2) <= 1)"
            for i in range(2, len(a), 4)
        )
        + ")"
    ),
    # cut variant: hostname truncated to the significant-subdomain
    # label plus everything right of it. Short hosts (one or two
    # labels) pass through unchanged instead of tripping ANSI
    # negative-index errors.
    "cutToFirstSignificantSubdomain": lambda a: (
        f"(CASE WHEN size(split(parse_url({a[0]}, 'HOST'), "
        f"'\\\\.')) <= 2 THEN parse_url({a[0]}, 'HOST') "
        f"WHEN try_element_at(split(parse_url({a[0]}, 'HOST'), "
        f"'\\\\.'), -2) IN ('com', 'net', 'org', 'co', 'gov', 'edu', "
        f"'mil', 'biz') THEN array_join(slice(split(parse_url({a[0]}, "
        f"'HOST'), '\\\\.'), -3, 3), '.') "
        f"ELSE array_join(slice(split(parse_url({a[0]}, 'HOST'), "
        f"'\\\\.'), -2, 2), '.') END)"
    ),
    # RFC 3986 variants (round-11 final probe): CH's *RFC twins
    # differ only in STRICTER parsing of malformed URLs — for
    # well-formed input the answers are identical, and parse_url is
    # already RFC-shaped, so they alias the base spellings. The
    # WithWWW variants alias too: this parser never www-strips in
    # the cut (stripping is the NON-www variants' CH-side quirk).
    "domainRFC": lambda a: f"parse_url({a[0]}, 'HOST')",
    "domainWithoutWWWRFC": lambda a: (
        _ARG_REWRITES["domainWithoutWWW"](a)
    ),
    "topLevelDomainRFC": lambda a: _ARG_REWRITES["topLevelDomain"](a),
    "firstSignificantSubdomainRFC": lambda a: (
        _ARG_REWRITES["firstSignificantSubdomain"](a)
    ),
    "cutToFirstSignificantSubdomainRFC": lambda a: (
        _ARG_REWRITES["cutToFirstSignificantSubdomain"](a)
    ),
    "cutToFirstSignificantSubdomainWithWWW": lambda a: (
        _ARG_REWRITES["cutToFirstSignificantSubdomain"](a)
    ),
    "cutToFirstSignificantSubdomainWithWWWRFC": lambda a: (
        _ARG_REWRITES["cutToFirstSignificantSubdomain"](a)
    ),
    "portRFC": lambda a: _ARG_REWRITES["port"](a),
    # UTF8-suffixed takes: Spark's left/right are character-based
    # already — but Spark returns '' for negative lengths where CH
    # left(s, -n) keeps all but the LAST n chars (and right(s, -n)
    # all but the FIRST n), so negative lengths are spelled via
    # substring/length arithmetic. Same mapping for the bare
    # spellings below.
    "leftUTF8": lambda a: _ch_left(a),
    "rightUTF8": lambda a: _ch_right(a),
    "left": lambda a: _ch_left(a),
    "right": lambda a: _ch_right(a),
    # -- UDF-backed: Unicode normalization, geohash --
    "normalizeUTF8NFC": lambda a: f"bh_nfc({a[0]})",
    "normalizeUTF8NFD": lambda a: f"bh_nfd({a[0]})",
    "normalizeUTF8NFKC": lambda a: f"bh_nfkc({a[0]})",
    "normalizeUTF8NFKD": lambda a: f"bh_nfkd({a[0]})",
    "geohashEncode": lambda a: (
        f"bh_geohash_encode(CAST({a[0]} AS DOUBLE), "
        f"CAST({a[1]} AS DOUBLE), "
        + (f"CAST({a[2]} AS INT))" if len(a) > 2 else "12)")
    ),
    "geohashDecode": lambda a: f"bh_geohash_decode({a[0]})",
    # -- capability maps --
    "blockNumber": lambda a: "spark_partition_id()",
    # -- refusals: library-, dictionary-, or block-scoped --
    "rowNumberInBlock": lambda a: (_ for _ in ()).throw(
        ValueError(
            "rowNumberInBlock() is block-scoped; use "
            "row_number() OVER (ORDER BY <key>) for a deterministic "
            "global row number"
        )
    ),
    "regionToName": lambda a: (_ for _ in ()).throw(
        ValueError(
            "regionTo*() needs a geobase dictionary; attach one as a "
            "dictGet lookup table instead"
        )
    ),
    "getMacro": lambda a: (_ for _ in ()).throw(
        ValueError("no server macros are configured on this engine")
    ),
    "filesystemAvailable": lambda a: (_ for _ in ()).throw(
        ValueError(
            "filesystem metrics are host introspection; query the "
            "system_profile view instead"
        )
    ),
    "filesystemCapacity": lambda a: (_ for _ in ()).throw(
        ValueError(
            "filesystem metrics are host introspection; query the "
            "system_profile view instead"
        )
    ),
    "h3ToGeo": lambda a: (_ for _ in ()).throw(
        ValueError(
            "H3 functions need the H3 index library, which does not "
            "ship with the engine; geohashEncode/geohashDecode are "
            "the supported spatial-bucketing twins"
        )
    ),
    "geoToH3": lambda a: (_ for _ in ()).throw(
        ValueError(
            "H3 functions need the H3 index library, which does not "
            "ship with the engine; geohashEncode/geohashDecode are "
            "the supported spatial-bucketing twins"
        )
    ),
    "aggThrow": lambda a: (_ for _ in ()).throw(
        ValueError("aggThrow() is a CH fault-injection test aggregate")
    ),
})


def _l1(arr: str) -> str:
    return (
        f"aggregate({arr}, 0D, (__a, __x) -> __a + abs(CAST(__x AS DOUBLE)))"
    )


def _l2sq(x: str, y: str) -> str:
    return (
        f"aggregate(zip_with({x}, {y}, (__p, __q) -> "
        f"pow(CAST(__p AS DOUBLE) - __q, 2)), 0D, "
        f"(__a, __v) -> __a + __v)"
    )


def _l2sq_norm(arr: str) -> str:
    return (
        f"aggregate({arr}, 0D, (__a, __x) -> "
        f"__a + CAST(__x AS DOUBLE) * __x)"
    )


def _linf(arr: str) -> str:
    return (
        f"array_max(transform({arr}, "
        f"__x -> abs(CAST(__x AS DOUBLE))))"
    )


def _lp_norm(arr: str, p: str) -> str:
    return (
        f"pow(aggregate({arr}, 0D, (__a, __x) -> "
        f"__a + pow(abs(CAST(__x AS DOUBLE)), {p})), 1.0 / ({p}))"
    )


# Round-9 probe tranche: the rest of the vector norm/normalize family
# (CH canonical L*Normalize spellings + the norm*/distance* aliases),
# LpDistance, L2SquaredNorm, mapPopulateSeries, tryBase58Decode.
_ARG_REWRITES.update({
    "L2SquaredNorm": lambda a: _l2sq_norm(a[0]),
    "normL2Squared": lambda a: _l2sq_norm(a[0]),
    "normL1": lambda a: _l1(a[0]),
    "normL2": lambda a: f"sqrt({_l2sq_norm(a[0])})",
    "normLinf": lambda a: _linf(a[0]),
    "normLp": lambda a: _lp_norm(a[0], a[1]),
    "distanceL1": lambda a: (
        f"aggregate(zip_with({a[0]}, {a[1]}, (__p, __q) -> "
        f"abs(CAST(__p AS DOUBLE) - __q)), 0D, "
        f"(__a, __v) -> __a + __v)"
    ),
    "distanceL2": lambda a: f"sqrt({_l2sq(a[0], a[1])})",
    "distanceL2Squared": lambda a: _l2sq(a[0], a[1]),
    "distanceLinf": lambda a: (
        f"array_max(zip_with({a[0]}, {a[1]}, "
        f"(__p, __q) -> abs(CAST(__p AS DOUBLE) - __q)))"
    ),
    "LpDistance": lambda a: (
        f"pow(aggregate(zip_with({a[0]}, {a[1]}, (__p, __q) -> "
        f"pow(abs(CAST(__p AS DOUBLE) - __q), {a[2]})), 0D, "
        f"(__a, __v) -> __a + __v), 1.0 / ({a[2]}))"
    ),
    "distanceLp": lambda a: (
        f"pow(aggregate(zip_with({a[0]}, {a[1]}, (__p, __q) -> "
        f"pow(abs(CAST(__p AS DOUBLE) - __q), {a[2]})), 0D, "
        f"(__a, __v) -> __a + __v), 1.0 / ({a[2]}))"
    ),
    "L1Normalize": lambda a: (
        f"transform({a[0]}, __x -> CAST(__x AS DOUBLE) / {_l1(a[0])})"
    ),
    "L2Normalize": lambda a: (
        f"transform({a[0]}, __x -> CAST(__x AS DOUBLE) / "
        f"sqrt({_l2sq_norm(a[0])}))"
    ),
    "LinfNormalize": lambda a: (
        f"transform({a[0]}, __x -> CAST(__x AS DOUBLE) / "
        f"{_linf(a[0])})"
    ),
    "normalizeLinf": lambda a: (
        f"transform({a[0]}, __x -> CAST(__x AS DOUBLE) / "
        f"{_linf(a[0])})"
    ),
    "LpNormalize": lambda a: (
        f"transform({a[0]}, __x -> CAST(__x AS DOUBLE) / "
        f"{_lp_norm(a[0], a[1])})"
    ),
    "normalizeLp": lambda a: (
        f"transform({a[0]}, __x -> CAST(__x AS DOUBLE) / "
        f"{_lp_norm(a[0], a[1])})"
    ),
    "mapPopulateSeries": lambda a: _map_populate_series_builder(a),
    # CH tryBase58Decode returns '' on invalid input (the repo's
    # base58 decoder yields NULL there).
    "tryBase58Decode": lambda a: (
        f"IF(({a[0]}) IS NULL, CAST(NULL AS STRING), "
        f"coalesce(bh_base58_decode({a[0]}), ''))"
    ),
    "isZeroOrNull": lambda a: (
        f"(({a[0]}) = 0 OR ({a[0]}) IS NULL)"
    ),
    # arrayPartialShuffle(arr, n): CH guarantees the first n elements
    # are a random sample and leaves the tail order UNSPECIFIED — a
    # full shuffle satisfies that contract. The SEEDED 3-arg form is
    # deterministic in CH; shuffle() is not, so refuse rather than
    # silently drop the seed (ADVICE r9).
    "arrayPartialShuffle": lambda a: (
        f"shuffle({a[0]})"
        if len(a) <= 2
        else _refuse(
            "arrayPartialShuffle(arr, n, seed): the seeded form is "
            "deterministic PER ROW in ClickHouse; Spark's seeded "
            "shuffle advances its RNG per row and partition, so "
            "results would change under repartitioning — drop the "
            "seed for a non-deterministic shuffle, or sort with a "
            "keyed hash (arraySort with cityHash64) for a "
            "deterministic permutation"
        )
    ),
    # arrayShuffle(arr[, seed]): same seeded-form hazard as
    # arrayPartialShuffle (ADVICE r9) — the 1:1 rename used to pass
    # the seed through to Spark's per-row-advancing RNG silently.
    "arrayShuffle": lambda a: (
        f"shuffle({a[0]})"
        if len(a) == 1
        else _refuse(
            "arrayShuffle(arr, seed): the seeded form is "
            "deterministic PER ROW in ClickHouse; Spark's seeded "
            "shuffle advances its RNG per row and partition, so "
            "results would change under repartitioning — drop the "
            "seed for a non-deterministic shuffle, or sort with a "
            "keyed hash (arraySort with cityHash64) for a "
            "deterministic permutation"
        )
    ),
})


# Round-5 probe tranche 4: the rest of the vector-norm family, bit
# rotation/Hamming, map higher-order functions, calendar field
# changes, and refusals for struct-arithmetic spellings (structs are
# not iterable in Spark expressions — arrays are the supported form).
_ARG_REWRITES.update({
    "LinfNorm": lambda a: (
        f"array_max(transform({a[0]}, __x -> abs(CAST(__x AS DOUBLE))))"
    ),
    "LinfDistance": lambda a: (
        f"array_max(zip_with({a[0]}, {a[1]}, "
        f"(__p, __q) -> abs(CAST(__p AS DOUBLE) - __q)))"
    ),
    "L2SquaredDistance": lambda a: _l2sq(a[0], a[1]),
    "normalizeL1": lambda a: (
        f"transform({a[0]}, __x -> CAST(__x AS DOUBLE) / {_l1(a[0])})"
    ),
    "normalizeL2": lambda a: (
        f"transform({a[0]}, __x -> CAST(__x AS DOUBLE) / "
        f"sqrt(aggregate({a[0]}, 0D, (__a, __y) -> "
        f"__a + CAST(__y AS DOUBLE) * __y)))"
    ),
    # 64-bit rotation (CH rotates at the argument's width; Int64 is
    # this dialect's integer carrier).
    "bitRotateLeft": lambda a: (
        f"(shiftleft(CAST({a[0]} AS BIGINT), {a[1]}) | "
        f"shiftrightunsigned(CAST({a[0]} AS BIGINT), 64 - ({a[1]})))"
    ),
    "bitRotateRight": lambda a: (
        f"(shiftrightunsigned(CAST({a[0]} AS BIGINT), {a[1]}) | "
        f"shiftleft(CAST({a[0]} AS BIGINT), 64 - ({a[1]})))"
    ),
    "bitHammingDistance": lambda a: (
        f"bit_count(({a[0]}) ^ ({a[1]}))"
    ),
    # Byte-set Jaccard over the two strings' characters.
    "stringJaccardIndex": lambda a: (
        f"(CAST(size(array_intersect(array_distinct(split({a[0]}, '')), "
        f"array_distinct(split({a[1]}, '')))) AS DOUBLE) / "
        f"size(array_union(array_distinct(split({a[0]}, '')), "
        f"array_distinct(split({a[1]}, '')))))"
    ),
    "arrayRandomSample": lambda a: (
        f"slice(shuffle({a[0]}), 1, {a[1]})"
    ),
    # Sparse position-indexed collect: positions carry their values,
    # holes are NULL (CH fills the type default — deviation noted).
    # Per-index filter over the collected pairs instead of
    # map_from_entries, which throws DUPLICATED_MAP_KEY when two rows
    # share a position (CH keeps one value; we keep the first
    # collected).
    "groupArrayInsertAt": lambda a: (
        f"transform(sequence(0, max({a[1]})), __i -> "
        f"try_element_at(filter(collect_list(named_struct("
        f"'p', CAST({a[1]} AS INT), 'v', {a[0]})), "
        f"__e -> __e.p = CAST(__i AS INT)), 1).v)"
    ),
    "toDecimalString": lambda a: (
        f"CAST(CAST({a[0]} AS DECIMAL(38, {a[1]})) AS STRING)"
    ),
    # Map higher-order family: CH is lambda-first, Spark map-first.
    "mapFilter": lambda a: f"map_filter({a[1]}, {a[0]})",
    "mapExists": lambda a: (
        f"(cardinality(map_filter({a[1]}, {a[0]})) > 0)"
    ),
    "mapAll": lambda a: (
        f"(cardinality(map_filter({a[1]}, {a[0]})) = "
        f"cardinality({a[1]}))"
    ),
    "mapConcat": lambda a: f"map_concat({', '.join(a)})",
    "mapUpdate": lambda a: (
        f"map_zip_with({a[0]}, {a[1]}, "
        f"(__k, __v1, __v2) -> coalesce(__v2, __v1))"
    ),
    # Key-ordered rebuild (Spark maps are semantically unordered;
    # array_sort on entries orders by key).
    "mapSort": lambda a: (
        f"map_from_entries(array_sort(map_entries({a[0]})))"
        if len(a) == 1
        else (_ for _ in ()).throw(
            ValueError(
                "mapSort(lambda, m) custom orderings are cosmetic on "
                "unordered Spark maps; sort map_entries() explicitly"
            )
        )
    ),
    "mapReverseSort": lambda a: (
        f"map_from_entries(reverse(array_sort(map_entries({a[0]}))))"
        if len(a) == 1
        else (_ for _ in ()).throw(
            ValueError(
                "mapReverseSort(lambda, m) custom orderings are "
                "cosmetic on unordered Spark maps; sort "
                "map_entries() explicitly"
            )
        )
    ),
    # Byte-level Hamming distance: differing bytes over the common
    # prefix (BINARY substring is byte-addressed, unlike STRING's
    # code points) plus the length difference — CH's convention for
    # unequal lengths.
    "byteHammingDistance": lambda a: (
        # sequence(1, 0) DESCENDS in Spark — guard the empty prefix.
        f"(IF(least(octet_length({a[0]}), octet_length({a[1]})) = 0, "
        f"0, aggregate(sequence(1, least(octet_length({a[0]}), "
        f"octet_length({a[1]}))), 0, (__acc, __i) -> __acc + "
        f"IF(substring(CAST({a[0]} AS BINARY), __i, 1) = "
        f"substring(CAST({a[1]} AS BINARY), __i, 1), 0, 1))) + "
        f"abs(octet_length({a[0]}) - octet_length({a[1]})))"
    ),
    # Calendar field changes; invalid results fail loudly (ANSI).
    "changeYear": lambda a: (
        f"make_date({a[1]}, month({a[0]}), day({a[0]}))"
    ),
    "changeMonth": lambda a: (
        f"make_date(year({a[0]}), {a[1]}, day({a[0]}))"
    ),
    "changeDay": lambda a: (
        f"make_date(year({a[0]}), month({a[0]}), {a[1]})"
    ),
    "toMillisecond": lambda a: (
        f"CAST(date_format({a[0]}, 'SSS') AS INT)"
    ),
    "getSubcolumn": lambda a: {
        "'size0'": lambda: f"size({a[0]})",
        "'keys'": lambda: f"map_keys({a[0]})",
        "'values'": lambda: f"map_values({a[0]})",
        "'null'": lambda: f"({a[0]} IS NULL)",
    }.get(
        a[1].strip().lower(),
        lambda: (_ for _ in ()).throw(
            ValueError(
                f"getSubcolumn: unsupported subcolumn {a[1]} "
                "(size0/keys/values/null)"
            )
        ),
    )(),
    # -- refusals --
    "byteSwap": lambda a: _byte_swap_builder(a),
    "mapApply": lambda a: _map_apply_builder(a),
    "mapPartialSort": lambda a: (_ for _ in ()).throw(
        ValueError(
            "map ordering is cosmetic on unordered Spark maps; sort "
            "map_entries() explicitly"
        )
    ),
    "tupleHammingDistance": lambda a: _tuple_hamming_builder(a),
    "arrayLevenshteinDistance": lambda a: _array_levenshtein_builder(a),
    "kql": lambda a: (_ for _ in ()).throw(
        ValueError("KQL dialect is not supported; use ClickHouse SQL")
    ),
    **{
        name: _tuple_arith_builder(name)
        for name in (
            "tuplePlus", "tupleMinus", "tupleNegate",
            "tupleMultiplyByNumber", "tupleDivideByNumber",
            "tupleMultiply", "tupleDivide",
            "tupleIntDiv", "tupleIntDivOrZero", "tupleModulo",
            "tupleModuloByNumber", "tupleIntDivByNumber",
            "tupleIntDivOrZeroByNumber",
        )
    },
    "flattenTuple": lambda a: _flatten_tuple_builder(a),
})

def _spark_type_ddl(ch_type: str) -> str:
    """CH type name → Spark DDL type string (via the schema parser)."""
    from bighouse_spark.dialect.schema import ch_type_to_spark

    return ch_type_to_spark(ch_type).simpleString()


# Thread-local current query id, set by the engine around transpile
# so queryID()/initialQueryID() fold to this query's killable id.
_QUERY_ID_LOCAL = threading.local()


def set_current_query_id(qid: str | None) -> None:
    _QUERY_ID_LOCAL.qid = qid


def _current_query_id() -> str:
    return getattr(_QUERY_ID_LOCAL, "qid", None) or "unknown"


# Round-5 probe tranche 5: conversion-suffix completion, JSON
# introspection, array OrNull accessors, base64/idna codecs, Z-order
# morton encoding, query-id introspection.
_ARG_REWRITES.update({
    # to<T>OrDefault(x, d) → coalesce(TRY_CAST, d), every cast base.
    **{
        f"{base}OrDefault": (lambda ty: lambda a: (
            f"coalesce(TRY_CAST({a[0]} AS {ty}), {a[1]})"
        ))(ty)
        for base, ty in (
            ("toInt8", "TINYINT"), ("toInt16", "SMALLINT"),
            ("toInt32", "INT"), ("toInt64", "BIGINT"),
            ("toUInt8", "SMALLINT"), ("toUInt16", "INT"),
            ("toUInt32", "BIGINT"), ("toUInt64", "BIGINT"),
            ("toFloat32", "FLOAT"), ("toFloat64", "DOUBLE"),
            ("toDate", "DATE"), ("toDateTime", "TIMESTAMP"),
            ("toString", "STRING"),
        )
    },
    **{
        f"toDecimal{bits}Or{suffix}": (
            lambda prec, null: lambda a: (
                f"TRY_CAST({a[0]} AS DECIMAL({prec}, {a[1]}))"
                if null
                else (
                    f"coalesce(TRY_CAST({a[0]} AS "
                    f"DECIMAL({prec}, {a[1]})), 0)"
                )
            )
        )(prec, suffix == "Null")
        for bits, prec in (("32", 9), ("64", 18), ("128", 38))
        for suffix in ("Null", "Zero")
    },
    # accurateCast(x, 'T'): CH errors on lossy casts; ANSI CAST is
    # exactly that contract. OrNull → TRY_CAST.
    "accurateCast": lambda a: (
        f"CAST({a[0]} AS {_spark_type_ddl(_unquote(a[1]))})"
    ),
    # (accurateCastOrNull is served by _accurate_cast_or_null, which
    # range-gates unsigned targets — a plain TRY_CAST here would
    # shadow it and let 300 through a UInt8.)
    # -- JSON introspection --
    "JSONArrayLength": lambda a: f"json_array_length({a[0]})",
    "JSONExtractKeys": lambda a: f"json_object_keys({a[0]})",
    "JSONType": lambda a: _json_type_expr(a),
    "JSONExtractKeysAndValues": lambda a: (
        f"map_entries(from_json({a[0]}, 'map<string, "
        + {
            "'Int64'": "bigint", "'Int32'": "int",
            "'Float64'": "double", "'Float32'": "float",
            "'String'": "string", "'Bool'": "boolean",
        }.get(a[1].strip() if len(a) > 1 else "'String'", "string")
        + ">'))"
    ),
    # Raw array elements via per-index get_json_object (fragments for
    # nested values; scalars come back unquoted — deviation noted).
    # With path keys, the array is extracted at the path first.
    "JSONExtractArrayRaw": lambda a: (
        f"transform(sequence(0, "
        f"CAST(json_array_length({_json_at_path(a)}) AS INT) - 1), "
        f"__i -> get_json_object({_json_at_path(a)}, "
        f"concat('$[', __i, ']')))"
    ),
    # Typed extraction: JSONExtract(json, key..., 'Type').
    "JSONExtract": lambda a: _json_extract_typed(a),
    "JSON_VALUE": lambda a: f"get_json_object({a[0]}, {a[1]})",
    "JSON_QUERY": lambda a: f"get_json_object({a[0]}, {a[1]})",
    "JSON_EXISTS": lambda a: (
        f"(get_json_object({a[0]}, {a[1]}) IS NOT NULL)"
    ),
    "isValidJSON": lambda a: (
        f"(get_json_object({a[0]}, '$') IS NOT NULL)"
    ),
    # -- array accessors --
    "arrayFirstOrNull": lambda a: (
        f"try_element_at(filter({a[1]}, {a[0]}), 1)"
    ),
    "arrayLastOrNull": lambda a: (
        f"try_element_at(filter({a[1]}, {a[0]}), -1)"
    ),
    "arrayElementOrNull": lambda a: (
        f"try_element_at({a[0]}, {a[1]})"
    ),
    "countEqual": lambda a: (
        f"size(filter({a[0]}, __e -> __e <=> {a[1]}))"
    ),
    # CH fills the element-type default; NULL is the honest fill when
    # the type is unknown at rewrite time (documented deviation).
    "emptyArrayToSingle": lambda a: (
        f"(CASE WHEN size({a[0]}) = 0 "
        f"THEN array(try_element_at({a[0]}, 1)) ELSE {a[0]} END)"
    ),
    "identity": lambda a: f"({a[0]})",
    # Transpile-time literal detection (the engine constant-folds the
    # same literals CH would).
    "isConstant": lambda a: (
        "1"
        if re.fullmatch(
            r"\s*(-?\d+(\.\d+)?|'[^']*'|true|false|null)\s*",
            a[0], re.IGNORECASE,
        )
        else "0"
    ),
    # caseWithExpression(x, k1, v1, ..., else) → CASE x WHEN ... END
    "caseWithExpression": lambda a: (
        f"(CASE {a[0]} "
        + " ".join(
            f"WHEN {a[i]} THEN {a[i + 1]}"
            for i in range(1, len(a) - 1, 2)
        )
        + f" ELSE {a[-1]} END)"
    ),
    # CH arrayFlatten flattens to ANY depth; Spark's flatten peels
    # one level. For a bracket-literal argument the nesting depth is
    # visible syntactically — apply flatten depth-1 times. Non-literal
    # args (columns) get the single-level flatten (their type depth is
    # unknown at transpile; nest the call explicitly for deeper).
    "arrayFlatten": lambda a: _array_flatten_builder(a),
    # retention(cond1..condN) → Array(UInt8) of cross-row flags.
    "retention": lambda a: _retention_builder(a),
    # toTime: keep the time-of-day, snap the date to 1970-01-02 (the
    # CH convention for time-only arithmetic). The 2-arg form's
    # timezone shifts the wall clock before extraction.
    "toTime": lambda a: (
        f"to_timestamp(concat('1970-01-02 ', "
        f"date_format({a[0]}, 'HH:mm:ss')))"
        if len(a) == 1
        else f"to_timestamp(concat('1970-01-02 ', "
        f"date_format(from_utc_timestamp({a[0]}, {a[1]}), "
        f"'HH:mm:ss')))"
    ),
    # fromUnixTimestamp(n, fmt): the 2-arg form takes a CH %-pattern,
    # not a Spark pattern — route through the formatDateTime
    # translator (week-based specs compose via extract()).
    "fromUnixTimestamp": lambda a: (
        (_ for _ in ()).throw(_SkipRewrite())
        if len(a) == 1
        else _format_datetime(
            [f"to_timestamp(from_unixtime({a[0]}))", a[1]]
        )
    ),
    # makeDateTime64(y, m, d, h, mi, s[, fraction[, precision]]):
    # fraction is in units of 10^-precision seconds (precision
    # defaults to 3, CH's DateTime64 default).
    "makeDateTime64": lambda a: (
        (_ for _ in ()).throw(
            ValueError(
                "makeDateTime64 takes 6-8 arguments "
                "(y, m, d, h, mi, s[, fraction[, precision]])"
            )
        )
        if not 6 <= len(a) <= 8
        else (
            f"make_timestamp({a[0]}, {a[1]}, {a[2]}, {a[3]}, {a[4]}, "
            f"CAST({a[5]} AS DOUBLE)"
            + (
                f" + CAST({a[6]} AS DOUBLE) / "
                f"pow(10, {a[7] if len(a) == 8 else 3})"
                if len(a) >= 7
                else ""
            )
            + ")"
        )
    ),
    # arrayIntersect is VARIADIC in CH; Spark's array_intersect is
    # binary — left-fold the extra arguments.
    "arrayIntersect": lambda a: (
        (_ for _ in ()).throw(_SkipRewrite())
        if len(a) <= 2
        else functools.reduce(
            lambda acc, x: f"array_intersect({acc}, {x})", a[1:], a[0]
        )
    ),
    # toDateTime(x, tz): the wall-clock string is interpreted IN that
    # zone; the stored instant renders as its UTC equivalent under the
    # engine's fixed UTC session (what a UTC-session CH client sees).
    # Spark's to_timestamp(x, fmt) second arg is a FORMAT PATTERN —
    # the plain rename used to pass the tz there and crash.
    "toDateTime": lambda a: (
        (_ for _ in ()).throw(_SkipRewrite())
        if len(a) == 1
        else f"to_utc_timestamp(to_timestamp({a[0]}), {a[1]})"
    ),
    # toDate(x, tz): calendar date of the instant in that zone.
    "toDate": lambda a: (
        (_ for _ in ()).throw(_SkipRewrite())
        if len(a) == 1
        else (
            f"to_date(from_utc_timestamp(to_timestamp({a[0]}), "
            f"{a[1]}))"
        )
    ),
    # toDate32: same DATE surface (Spark DATE already spans 1900-2299
    # and beyond; CH's Date32 exists to widen Date's 1970-2149 range).
    "toDate32": lambda a: f"CAST({a[0]} AS DATE)",
    "toDate32OrNull": lambda a: f"TRY_CAST({a[0]} AS DATE)",
    "toDate32OrZero": lambda a: (
        f"coalesce(TRY_CAST({a[0]} AS DATE), DATE'1900-01-01')"
    ),
    # toString(datetime, tz): render in the given zone.
    "toString": lambda a: (
        (_ for _ in ()).throw(_SkipRewrite())
        if len(a) == 1
        else (
            f"date_format(from_utc_timestamp({a[0]}, {a[1]}), "
            f"'yyyy-MM-dd HH:mm:ss')"
        )
    ),
    # char(c1, c2, ...): string from code points (Spark char is
    # single-argument).
    "char": lambda a: (
        (_ for _ in ()).throw(_SkipRewrite())
        if len(a) == 1
        else f"concat({', '.join(f'char({x})' for x in a)})"
    ),
    # Guarded base64 decode: '' on malformed input (CH try semantics).
    "tryBase64Decode": lambda a: (
        f"(CASE WHEN length({a[0]}) % 4 = 0 AND {a[0]} RLIKE "
        f"'^[A-Za-z0-9+/]*={{0,2}}$' "
        f"THEN CAST(unbase64({a[0]}) AS STRING) ELSE '' END)"
    ),
    "base64UrlEncode": lambda a: (
        f"translate(base64(encode({a[0]}, 'utf-8')), '+/', '-_')"
    ),
    "base64UrlDecode": lambda a: (
        f"CAST(unbase64(translate({a[0]}, '-_', '+/')) AS STRING)"
    ),
    "idnaEncode": lambda a: f"bh_idna_encode({a[0]})",
    "idnaDecode": lambda a: f"bh_idna_decode({a[0]})",
    # 2-D morton (Z-order) interleave over 32 bits per coordinate.
    "mortonEncode": lambda a: (
        (
            f"aggregate(sequence(0, 31), CAST(0 AS BIGINT), "
            f"(__acc, __i) -> __acc "
            f"| shiftleft(shiftrightunsigned(CAST({a[0]} AS BIGINT), "
            f"__i) & 1, 2 * __i) "
            f"| shiftleft(shiftrightunsigned(CAST({a[1]} AS BIGINT), "
            f"__i) & 1, 2 * __i + 1))"
        )
        if len(a) == 2
        else (_ for _ in ()).throw(
            ValueError("mortonEncode supports the 2-argument form")
        )
    ),
    "mortonDecode": lambda a: (
        (
            f"array(aggregate(sequence(0, 31), CAST(0 AS BIGINT), "
            f"(__acc, __i) -> __acc | shiftleft("
            f"shiftrightunsigned(CAST({a[1]} AS BIGINT), 2 * __i) & 1, "
            f"__i)), "
            f"aggregate(sequence(0, 31), CAST(0 AS BIGINT), "
            f"(__acc, __i) -> __acc | shiftleft("
            f"shiftrightunsigned(CAST({a[1]} AS BIGINT), 2 * __i + 1) "
            f"& 1, __i)))"
        )
        if len(a) == 2 and a[0].strip() == "2"
        else (_ for _ in ()).throw(
            ValueError("mortonDecode supports mortonDecode(2, code)")
        )
    ),
    "queryID": lambda a: f"'{_current_query_id()}'",
    "initialQueryID": lambda a: f"'{_current_query_id()}'",
    "hilbertEncode": lambda a: _hilbert_encode_builder(a),
    "hilbertDecode": lambda a: _hilbert_decode_builder(a),
    "sqidEncode": lambda a: (_ for _ in ()).throw(
        ValueError("sqids need the sqids alphabet library")
    ),
})


def _char_ngrams(s: str, n: int = 4) -> str:
    """Distinct character n-grams of a string expression."""
    return (
        f"array_distinct(transform(sequence(1, "
        f"greatest(length({s}) - {n - 1}, 1)), "
        f"__i -> substring({s}, __i, {n})))"
    )


def _regex_group_count(pattern_lit: str) -> int:
    """Capture-group count of a LITERAL regex (unescaped '(' not
    followed by '?')."""
    pat = _unquote(pattern_lit)
    n, i = 0, 0
    while i < len(pat):
        if pat[i] == "\\":
            i += 2
            continue
        if pat[i] == "(" and not pat[i + 1:i + 2] == "?":
            n += 1
        i += 1
    if n == 0:
        raise ValueError(
            "extract*Groups: pattern has no capture groups"
        )
    return n


_CROCKFORD = "0123456789ABCDEFGHJKMNPQRSTVWXYZ"

# Round-5 probe tranche 6: epoch-precision conversions, snowflake
# ids, n-gram fuzzy match, token search, regex group extraction,
# Joda-syntax date formatting.
_ARG_REWRITES.update({
    "fromUnixTimestamp64Milli": lambda a: f"timestamp_millis({a[0]})",
    # DateTime64 constructor/accessors: Spark timestamps are µs, so
    # precision beyond 6 truncates (documented; CH stores up to ns).
    "toDateTime64": lambda a: f"CAST({a[0]} AS TIMESTAMP)",
    "toUnixTimestamp64Milli": lambda a: f"unix_millis({a[0]})",
    "toUnixTimestamp64Micro": lambda a: f"unix_micros({a[0]})",
    "toUnixTimestamp64Nano": lambda a: f"(unix_micros({a[0]}) * 1000)",
    "fromUnixTimestamp64Micro": lambda a: f"timestamp_micros({a[0]})",
    "fromUnixTimestamp64Nano": lambda a: (
        f"timestamp_micros(CAST(({a[0]}) DIV 1000 AS BIGINT))"
    ),
    "fromUnixTimestamp64Second": lambda a: f"timestamp_seconds({a[0]})",
    "toUnixTimestamp64Milli": lambda a: f"unix_millis({a[0]})",
    "toUnixTimestamp64Micro": lambda a: f"unix_micros({a[0]})",
    "toUnixTimestamp64Nano": lambda a: f"(unix_micros({a[0]}) * 1000)",
    "toUnixTimestamp64Second": lambda a: f"unix_seconds({a[0]})",
    # Twitter snowflake epoch 2010-11-04T01:42:54.657Z.
    "snowflakeToDateTime": lambda a: (
        f"timestamp_millis(shiftrightunsigned(CAST({a[0]} AS BIGINT), "
        f"22) + 1288834974657)"
    ),
    "snowflakeToDateTime64": lambda a: (
        f"timestamp_millis(shiftrightunsigned(CAST({a[0]} AS BIGINT), "
        f"22) + 1288834974657)"
    ),
    "snowflakeIDToDateTime": lambda a: (
        f"timestamp_millis(shiftrightunsigned(CAST({a[0]} AS BIGINT), "
        f"22) + 1288834974657)"
    ),
    "dateTimeToSnowflake": lambda a: (
        f"shiftleft(unix_millis({a[0]}) - 1288834974657, 22)"
    ),
    "dateTime64ToSnowflake": lambda a: (
        f"shiftleft(unix_millis({a[0]}) - 1288834974657, 22)"
    ),
    # Inverse of snowflakeIDToDateTime (same Twitter-epoch
    # convention as the deprecated pair above).
    "dateTimeToSnowflakeID": lambda a: (
        f"shiftleft(unix_millis({a[0]}) - 1288834974657, 22)"
    ),
    # 4-gram set distance/search (CH uses multisets; the distinct-set
    # form keeps the [0,1] contract and ordering — documented
    # deviation).
    "ngramDistance": lambda a: (
        f"(1.0 - 2.0 * size(array_intersect({_char_ngrams(a[0])}, "
        f"{_char_ngrams(a[1])})) / (size({_char_ngrams(a[0])}) "
        f"+ size({_char_ngrams(a[1])})))"
    ),
    "ngramSearch": lambda a: (
        f"(CAST(size(filter({_char_ngrams(a[1])}, "
        f"__g -> contains({a[0]}, __g))) AS DOUBLE) "
        f"/ size({_char_ngrams(a[1])}))"
    ),
    "hasToken": lambda a: (
        f"array_contains(split({a[0]}, '[^A-Za-z0-9_]+'), {a[1]})"
    ),
    "hasTokenCaseInsensitive": lambda a: (
        f"array_contains(split(lower({a[0]}), '[^a-z0-9_]+'), "
        f"lower({a[1]}))"
    ),
    # OrNull twins: CH returns NULL (instead of throwing) when the
    # needle is not a single token (contains separator characters).
    "hasTokenOrNull": lambda a: (
        f"IF({a[1]} RLIKE '^[A-Za-z0-9_]+$', "
        f"array_contains(split({a[0]}, '[^A-Za-z0-9_]+'), {a[1]}), "
        f"CAST(NULL AS BOOLEAN))"
    ),
    "hasTokenCaseInsensitiveOrNull": lambda a: (
        f"IF({a[1]} RLIKE '^[A-Za-z0-9_]+$', "
        f"array_contains(split(lower({a[0]}), '[^a-z0-9_]+'), "
        f"lower({a[1]})), CAST(NULL AS BOOLEAN))"
    ),
    # tupleNames: inline tuples are unnamed — CH reports positional
    # names '1'..'n'.
    "tupleNames": lambda a: (
        (_ for _ in ()).throw(
            ValueError(
                "tupleNames() expands only for inline tuples — a "
                "tuple-typed column's names are unknown at "
                "transpile time"
            )
        )
        if len(a) != 1 or _struct_literal_fields(a[0]) is None
        else "array("
        + ", ".join(
            f"'{i}'"
            for i in range(
                1, len(_struct_literal_fields(a[0])) + 1
            )
        )
        + ")"
    ),
    # Literal-pattern group extraction (group count read from the
    # pattern text).
    "extractGroups": lambda a: (
        "array("
        + ", ".join(
            f"regexp_extract({a[0]}, {a[1]}, {g})"
            for g in range(1, _regex_group_count(a[1]) + 1)
        )
        + ")"
    ),
    "extractAllGroups": lambda a: (
        "array("
        + ", ".join(
            f"regexp_extract_all({a[0]}, {a[1]}, {g})"
            for g in range(1, _regex_group_count(a[1]) + 1)
        )
        + ")"
    ),
    "extractAllGroupsHorizontal": lambda a: (
        "array("
        + ", ".join(
            f"regexp_extract_all({a[0]}, {a[1]}, {g})"
            for g in range(1, _regex_group_count(a[1]) + 1)
        )
        + ")"
    ),
    "extractAllGroupsVertical": lambda a: (
        f"transform(sequence(1, size(regexp_extract_all({a[0]}, "
        f"{a[1]}, 0))), __m -> array("
        + ", ".join(
            f"element_at(regexp_extract_all({a[0]}, {a[1]}, {g}), __m)"
            for g in range(1, _regex_group_count(a[1]) + 1)
        )
        + "))"
    ),
    "toLowCardinality": lambda a: f"({a[0]})",
    "formatDateTimeInJodaSyntax": lambda a: (
        f"date_format({a[0]}, {a[1]})"
    ),
    "parseDateTimeInJodaSyntax": lambda a: (
        f"to_timestamp({a[0]}, {a[1]})"
    ),
    "parseDateTimeInJodaSyntaxOrNull": lambda a: (
        f"try_to_timestamp({a[0]}, {a[1]})"
    ),
    "fromUnixTimestampInJodaSyntax": lambda a: (
        f"date_format(timestamp_seconds({a[0]}), {a[1]})"
    ),
    "arrayJoin": lambda a: f"explode({a[0]})",
    "indexHint": lambda a: "1",
    # ULID: first 10 Crockford-base32 chars are the ms timestamp.
    "ULIDStringToDateTime": lambda a: (
        f"timestamp_millis(aggregate(split(substring({a[0]}, 1, 10), "
        f"''), CAST(0 AS BIGINT), (__acc, __c) -> __acc * 32 + "
        f"instr('{_CROCKFORD}', upper(__c)) - 1))"
    ),
    "notILike": lambda a: f"(NOT ({a[0]} ILIKE {a[1]}))",
    "startsWithUTF8": lambda a: f"startswith({a[0]}, {a[1]})",
    "endsWithUTF8": lambda a: f"endswith({a[0]}, {a[1]})",
    "transactionID": lambda a: (_ for _ in ()).throw(
        ValueError("transactions are not supported by this engine")
    ),
    "generateULID": lambda a: (_ for _ in ()).throw(
        ValueError(
            "generateULID() is not supported; uuid() provides unique "
            "ids, ULIDStringToDateTime() decodes existing ULIDs"
        )
    ),
    **{
        name: (lambda nm: lambda a: (_ for _ in ()).throw(
            ValueError(
                f"{nm}() per-value sketch tuples are served by the "
                "dedup operator library (operators/dedup.py)"
            )
        ))(name)
        for name in (
            "ngramMinHash", "ngramSimHash", "wordShingleSimHash",
            "ngramMinHashCaseInsensitive", "wordShingleMinHashArg",
        )
    },
})


def _xml_encode(s: str) -> str:
    out = f"replace({s}, '&', '&amp;')"
    for ch, ent in (("<", "&lt;"), (">", "&gt;"), ('"', "&quot;"),
                    ("''", "&apos;")):
        out = f"replace({out}, '{ch}', '{ent}')"
    return out


def _xml_decode(s: str) -> str:
    out = s
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&apos;", "''"), ("&nbsp;", " "), ("&amp;", "&")):
        out = f"replace({out}, '{ent}', '{ch}')"
    return out


# Round-5 probe tranche 7: string/URL/HTML helpers — the URL
# hierarchy, XML/HTML entity codecs, and tag-stripping text
# extraction every web-corpus pipeline leans on.
_ARG_REWRITES.update({
    "arrayWithConstant": lambda a: f"array_repeat({a[1]}, {a[0]})",
    "bitmaskToArray": lambda a: (
        f"filter(transform(sequence(0, 62), __i -> "
        f"shiftleft(CAST(1 AS BIGINT), __i)), "
        f"__p -> (CAST({a[0]} AS BIGINT) & __p) != 0)"
    ),
    "bitmaskToList": lambda a: (
        f"array_join(transform(filter(transform(sequence(0, 62), "
        f"__i -> shiftleft(CAST(1 AS BIGINT), __i)), "
        f"__p -> (CAST({a[0]} AS BIGINT) & __p) != 0), "
        f"__v -> CAST(__v AS STRING)), ',')"
    ),
    "visibleWidth": lambda a: f"length(CAST({a[0]} AS STRING))",
    "dumpColumnStructure": lambda a: f"typeof({a[0]})",
    # Same-hash-for-literal-variants contract: hash the
    # literal-normalized text.
    "normalizedQueryHash": lambda a: (
        f"CAST(xxhash64(regexp_replace(regexp_replace({a[0]}, "
        f"\"'[^']*'\", '?'), '\\\\b[0-9]+\\\\b', '?')) "
        f"AS DECIMAL(38, 0))"
    ),
    # First-occurrence literal replace via locate/splice.
    "replaceOne": lambda a: (
        f"(CASE WHEN locate({a[1]}, {a[0]}) > 0 THEN "
        f"concat(substring({a[0]}, 1, locate({a[1]}, {a[0]}) - 1), "
        f"{a[2]}, substring({a[0]}, "
        f"locate({a[1]}, {a[0]}) + length({a[1]}))) "
        f"ELSE {a[0]} END)"
    ),
    # First-only regex replace: anchor a lazy prefix group and keep
    # it. Literal replacement only (backrefs would collide with the
    # injected $1).
    "replaceRegexpOne": lambda a: (
        (
            f"regexp_replace({a[0]}, "
            f"concat('^((?s).*?)(?:', {a[1]}, ')'), "
            f"concat('$1', {a[2]}))"
        )
        if "$" not in a[2] and "\\" not in a[2]
        else (_ for _ in ()).throw(
            ValueError(
                "replaceRegexpOne: backreference replacements need "
                "regexp_replace with an explicit first-match anchor"
            )
        )
    ),
    "appendTrailingCharIfAbsent": lambda a: (
        f"(CASE WHEN endswith({a[0]}, {a[1]}) THEN {a[0]} "
        f"ELSE concat({a[0]}, {a[1]}) END)"
    ),
    # Spark strings are Unicode; byte-charset conversion happens at
    # I/O boundaries — in-engine conversion is identity.
    "convertCharset": lambda a: f"({a[0]})",
    "firstLine": lambda a: f"element_at(split({a[0]}, '\\n'), 1)",
    "basename": lambda a: f"element_at(split({a[0]}, '[/\\\\\\\\]'), -1)",
    "queryStringAndFragment": lambda a: (
        f"concat(coalesce(parse_url({a[0]}, 'QUERY'), ''), "
        f"CASE WHEN parse_url({a[0]}, 'REF') IS NOT NULL "
        f"THEN concat('#', parse_url({a[0]}, 'REF')) ELSE '' END)"
    ),
    "cutQueryStringAndFragment": lambda a: (
        f"regexp_replace({a[0]}, '[?#].*$', '')"
    ),
    "cutWWW": lambda a: f"regexp_replace({a[0]}, '//www\\\\.', '//')",
    # CH decodeURLComponent does NOT treat '+' as space (the Form
    # variants do); Spark's url_decode is form-decoding, so shield
    # the plus signs.
    "decodeURLComponent": lambda a: (
        f"url_decode(replace({a[0]}, '+', '%2B'))"
    ),
    "decodeURLFormComponent": lambda a: f"url_decode({a[0]})",
    "encodeURLComponent": lambda a: (
        f"replace(url_encode({a[0]}), '+', '%20')"
    ),
    "encodeURLFormComponent": lambda a: f"url_encode({a[0]})",
    # Progressive path prefixes. CH also cuts at ? and #; the
    # path-segment form covers the hierarchy use (facet drill-down).
    "URLHierarchy": lambda a: _url_hierarchy_expr(a[0]),
    "URLPathHierarchy": lambda a: (
        f"transform(sequence(1, size(filter(split("
        f"parse_url({a[0]}, 'PATH'), '/'), __s -> __s != ''))), "
        f"__i -> concat('/', array_join(slice(filter(split("
        f"parse_url({a[0]}, 'PATH'), '/'), __s -> __s != ''), "
        f"1, __i), '/')))"
    ),
    "encodeXMLComponent": lambda a: _xml_encode(a[0]),
    "decodeXMLComponent": lambda a: _xml_decode(a[0]),
    "decodeHTMLComponent": lambda a: _xml_decode(a[0]),
    # Tag stripping for corpus text extraction: drop script/style
    # blocks, strip tags, decode basic entities, collapse whitespace.
    "extractTextFromHTML": lambda a: _xml_decode(
        f"trim(regexp_replace(regexp_replace(regexp_replace({a[0]}, "
        f"'(?is)<(script|style)[^>]*>.*?</(script|style)>', ' '), "
        f"'<[^>]*>', ' '), '\\\\s+', ' '))"
    ),
    "lineAsString": lambda a: (_ for _ in ()).throw(
        ValueError(
            "lineAsString is a FORMAT input column, not a scalar; "
            "read with FORMAT LineAsString instead"
        )
    ),
    # groupConcat direct form (the parametric (sep)(x) form is
    # handled in the parametric pre-pass).
    "groupConcat": lambda a: (
        f"array_join(collect_list({a[0]}), "
        + (a[1] if len(a) > 1 else "''")
        + ")"
    ),
    "maxIntersectionsPosition": _interval_sweep_builder("maxIntersectionsPosition"),
    "analysisOfVariance": lambda a: _anova_builder(a),
    "anova": lambda a: _anova_builder(a),
})

def _point_in_polygon(a: list) -> str:
    """CH ``pointInPolygon((x, y), [(x1,y1), ...])`` → ray-casting
    fold over the vertex arrays (Franke's even-odd rule, pure column
    expression). The polygon must be a tuple-literal list (CH's
    overwhelmingly dominant call shape — polygons are constants);
    a polygon column would need a struct-array fold with known field
    names, which we refuse with guidance."""
    pt = a[0].strip()
    if pt.startswith("(") and pt.endswith(")"):
        inner = pt[1:-1]
    elif pt.lower().startswith("struct(") and pt.endswith(")"):
        inner = pt[pt.index("(") + 1 : -1]
    else:
        raise ValueError(
            "pointInPolygon: pass the point as a (x, y) tuple"
        )
    px, py = (s.strip() for s in _split_args_top(inner))
    poly = a[1].strip()
    if poly.startswith("[") and poly.endswith("]"):
        body = poly[1:-1]
    elif poly.lower().startswith("array(") and poly.endswith(")"):
        body = poly[poly.index("(") + 1 : -1]
    else:
        raise ValueError(
            "pointInPolygon: the polygon must be a literal "
            "[(x1,y1), ...] list; for a polygon column, explode the "
            "vertices and apply the even-odd rule with a windowed fold"
        )
    xs, ys = [], []
    for v in _split_args_top(body):
        v = v.strip()
        if not (v.startswith("(") and v.endswith(")")):
            raise ValueError(
                "pointInPolygon: polygon vertices must be (x, y) tuples"
            )
        x, y = (s.strip() for s in _split_args_top(v[1:-1]))
        xs.append(f"CAST({x} AS DOUBLE)")
        ys.append(f"CAST({y} AS DOUBLE)")
    n = len(xs)
    if n < 3:
        raise ValueError("pointInPolygon: need at least 3 vertices")
    xa = f"array({', '.join(xs)})"
    ya = f"array({', '.join(ys)})"
    pxe = f"CAST({px} AS DOUBLE)"
    pye = f"CAST({py} AS DOUBLE)"
    # Even-odd crossing count: edge i runs vertex i → i%n+1 (1-based).
    return (
        f"CAST(aggregate(sequence(1, {n}), false, (__in, __i) -> "
        f"CASE WHEN (element_at({ya}, __i) > {pye}) != "
        f"(element_at({ya}, __i % {n} + 1) > {pye}) "
        f"AND {pxe} < (element_at({xa}, __i % {n} + 1) - "
        f"element_at({xa}, __i)) * ({pye} - element_at({ya}, __i)) / "
        f"(element_at({ya}, __i % {n} + 1) - element_at({ya}, __i)) + "
        f"element_at({xa}, __i) "
        f"THEN NOT __in ELSE __in END) AS INT)"
    )


def _json_at_path(a: list[str]) -> str:
    """The JSON text at the key path: the document itself for the
    single-argument form, get_json_object at ``$.k1.k2`` otherwise."""
    if len(a) == 1:
        return a[0]
    path = ".".join(_unquote(k) for k in a[1:])
    return f"get_json_object({a[0]}, '$.{path}')"


def _json_type_expr(a: list[str]) -> str:
    """JSONType(json[, keys...]): the CH type-name of the value. The
    path form inspects the RAW extracted text (variant round-trip —
    strings keep their quotes, so the String branch works)."""
    if len(a) == 1:
        target = a[0]
    else:
        path = ".".join(_unquote(k) for k in a[1:])
        target = (
            f"to_json(variant_get(try_parse_json({a[0]}), "
            f"'$.{path}', 'variant'))"
        )
    return (
        f"(CASE WHEN {target} IS NULL THEN 'Null' "
        f"WHEN trim({target}) LIKE '{{%' THEN 'Object' "
        f"WHEN trim({target}) LIKE '[%' THEN 'Array' "
        f"WHEN trim({target}) LIKE '\"%' THEN 'String' "
        f"WHEN trim({target}) IN ('true', 'false') THEN 'Bool' "
        f"WHEN trim({target}) = 'null' THEN 'Null' "
        f"WHEN trim({target}) RLIKE '^-?[0-9]+$' THEN 'Int64' "
        f"ELSE 'Double' END)"
    )


_JSON_EXTRACT_SPARK_TYPES = {
    "Int8": "TINYINT", "Int16": "SMALLINT", "Int32": "INT",
    "Int64": "BIGINT", "UInt8": "INT", "UInt16": "INT",
    "UInt32": "BIGINT", "UInt64": "BIGINT", "Float32": "FLOAT",
    "Float64": "DOUBLE", "String": "STRING", "Bool": "BOOLEAN",
    "Date": "DATE", "DateTime": "TIMESTAMP",
}


def _json_extract_typed(a: list[str]) -> str:
    """JSONExtract(json, key..., 'Type') → CAST of the extracted
    value; Array(T) forms parse with from_json."""
    if len(a) < 2:
        raise ValueError("JSONExtract(json, [keys...,] 'Type')")
    ch_t = _unquote(a[-1]).strip()
    inner_a = a[:-1]
    raw = _json_at_path(inner_a)
    m = re.match(r"Array\((\w+)\)$", ch_t)
    if m:
        el = _JSON_EXTRACT_SPARK_TYPES.get(m.group(1))
        if el is None:
            raise ValueError(
                f"JSONExtract: unsupported element type {m.group(1)!r}"
            )
        return f"from_json({raw}, 'array<{el.lower()}>')"
    sp = _JSON_EXTRACT_SPARK_TYPES.get(ch_t)
    if sp is None:
        raise ValueError(
            f"JSONExtract: unsupported type {ch_t!r}; supported: "
            f"{sorted(_JSON_EXTRACT_SPARK_TYPES)} and Array(T)"
        )
    return f"CAST({raw} AS {sp})"


def _simple_json_raw(a: list[str]) -> str:
    """simpleJSONExtractRaw semantics: the value's raw JSON text
    (strings WITH quotes), '' when the key is absent. simpleJSON /
    visitParam tolerate sloppy non-JSON input in CH; this variant
    needs the document to parse (try_parse_json → '' otherwise),
    which all well-formed logs satisfy."""
    raw = (
        f"to_json(variant_get(try_parse_json({a[0]}), "
        f"'$.{_unquote(a[1])}', 'variant'))"
    )
    return f"coalesce({raw}, '')"


def _simple_json_string(a: list[str]) -> str:
    """simpleJSONExtractString: the unescaped string value when the
    key holds a string, else '' (CH returns '' for numbers, objects,
    missing keys)."""
    raw = (
        f"to_json(variant_get(try_parse_json({a[0]}), "
        f"'$.{_unquote(a[1])}', 'variant'))"
    )
    unquoted = f"get_json_object({a[0]}, '$.{_unquote(a[1])}')"
    return (
        f"CASE WHEN startswith({raw}, '\"') THEN {unquoted} "
        f"ELSE '' END"
    )


# Round-5 probe tranche 9: aggregate bit ops, simpleJSON (the
# log-scraping JSON fast path — alias family of visitParam),
# YYYYMMDD numeric date codecs, regex quoting, random strings,
# consistent hashing, and literal-polygon containment.
_ARG_REWRITES.update({
    # CH returns '' (not the value text) when the key's value is not
    # a string, and '' for a missing key; the variant probe detects
    # the string case by its leading quote in the raw JSON.
    "simpleJSONExtractString": lambda a: _simple_json_string(a),
    "simpleJSONExtractInt": lambda a: (
        f"CAST(get_json_object({a[0]}, '$.{_unquote(a[1])}') AS BIGINT)"
    ),
    "simpleJSONExtractFloat": lambda a: (
        f"CAST(get_json_object({a[0]}, '$.{_unquote(a[1])}') AS DOUBLE)"
    ),
    "simpleJSONExtractBool": lambda a: (
        f"CAST(CAST(get_json_object({a[0]}, '$.{_unquote(a[1])}') "
        f"AS BOOLEAN) AS INT)"
    ),
    # Raw keeps the value's raw JSON text — strings KEEP their
    # quotes ('"b"', unlike get_json_object's unquoted 'b'); objects
    # and arrays come back verbatim. Spark 4's VARIANT round-trip
    # gives exactly that. Missing key → '' like CH.
    "simpleJSONExtractRaw": lambda a: _simple_json_raw(a),
    "simpleJSONHas": lambda a: (
        f"(get_json_object({a[0]}, '$.{_unquote(a[1])}') IS NOT NULL)"
    ),
    "visitParamExtractBool": lambda a: (
        f"CAST(CAST(get_json_object({a[0]}, '$.{_unquote(a[1])}') "
        f"AS BOOLEAN) AS INT)"
    ),
    "visitParamExtractRaw": lambda a: _simple_json_raw(a),
    # Numeric-encoded calendar codecs (CH stores yyyymmdd ints).
    "YYYYMMDDToDate": lambda a: (
        f"to_date(CAST(CAST({a[0]} AS BIGINT) AS STRING), 'yyyyMMdd')"
    ),
    "YYYYMMDDToDate32": lambda a: (
        f"to_date(CAST(CAST({a[0]} AS BIGINT) AS STRING), 'yyyyMMdd')"
    ),
    "YYYYMMDDhhmmssToDateTime": lambda a: (
        f"to_timestamp(CAST(CAST({a[0]} AS BIGINT) AS STRING), "
        f"'yyyyMMddHHmmss')"
    ),
    "YYYYMMDDhhmmssToDateTime64": lambda a: (
        f"to_timestamp(CAST(CAST({a[0]} AS BIGINT) AS STRING), "
        f"'yyyyMMddHHmmss')"
    ),
    # Escape regex metacharacters (CH's set: \0 | ( ) ^ $ . [ ] ? * + { : -
    # plus backslash). $1 keeps the char, prefixed with a backslash.
    "regexpQuoteMeta": lambda a: (
        f"regexp_replace({a[0]}, "
        r"'([\\\\|()^$.\\[\\]?*+{:-])', '\\\\$1')"
    ),
    # Nondeterministic generators (CH's are too). Printable draws
    # chars 32..126; randomString draws 1..255 (no NUL — Spark
    # strings are not byte-transparent; use for payload synthesis).
    "randomString": lambda a: (
        f"(CASE WHEN ({a[0]}) <= 0 THEN '' ELSE "
        f"array_join(transform(sequence(1, {a[0]}), "
        f"__i -> char(1 + CAST(rand() * 255 AS INT))), '') END)"
    ),
    "randomPrintableASCII": lambda a: (
        f"(CASE WHEN ({a[0]}) <= 0 THEN '' ELSE "
        f"array_join(transform(sequence(1, {a[0]}), "
        f"__i -> char(32 + CAST(rand() * 95 AS INT))), '') END)"
    ),
    "jumpConsistentHash": lambda a: (
        f"bh_jumphash(CAST({a[0]} AS BIGINT), CAST({a[1]} AS INT))"
    ),
    # Capability twin (see miscfuncs._kostik_hash): the same
    # consistent-hashing contract as CH's Oblakov algorithm —
    # deterministic, uniform, minimal remaps, n ≤ 32768 — but a
    # DIFFERENT bucket permutation (splitmix64 finalizer + jump
    # hash; the Oblakov C++ has no published spec and bit-parity is
    # unverifiable offline). Deviation listed in COVERAGE.md.
    "kostikConsistentHash": lambda a: (
        f"bh_kostikhash(CAST({a[0]} AS BIGINT), CAST({a[1]} AS INT))"
        if len(a) == 2
        else _refuse("kostikConsistentHash(key, n) takes two arguments")
    ),
    "yandexConsistentHash": lambda a: (
        f"bh_kostikhash(CAST({a[0]} AS BIGINT), CAST({a[1]} AS INT))"
        if len(a) == 2
        else _refuse("yandexConsistentHash(key, n) takes two arguments")
    ),
    "deltaSumTimestamp": lambda a: _delta_sum_timestamp_builder(a),
    "pointInPolygon": _point_in_polygon,
})

def _mac_num_to_string(a: list) -> str:
    parts = ", ".join(
        f"lpad(lower(hex(shiftright(CAST({a[0]} AS BIGINT), {s}) & 255)), "
        f"2, '0')"
        for s in (40, 32, 24, 16, 8, 0)
    )
    return f"concat_ws(':', {parts})"


def _ipv4_cidr_to_range(a: list) -> str:
    """CH ``IPv4CIDRToRange(addr, prefix)`` → struct(lo, hi) of
    dotted strings. The address arrives as a dotted string (our IPv4
    carrier type); pure integer mask math, no UDF. The address and
    masked base are each bound ONCE via single-element transform
    lambdas — naive interpolation expands the address expression
    ~16x (IPv4NumToString alone reads its input 4x), which blows past
    Spark's codegen method limit on composed inputs."""
    num = _ARG_REWRITES["IPv4StringToNum"](["__ip"])
    span = f"(shiftleft(CAST(1 AS BIGINT), 32 - ({a[1]})) - 1)"
    ntos = _ARG_REWRITES["IPv4NumToString"]
    inner = (
        f"element_at(transform(array(({num}) - (({num}) & {span})), "
        f"__lo -> named_struct('lo', {ntos(['__lo'])}, "
        f"'hi', {ntos(['(__lo + ' + span + ')'])})), 1)"
    )
    return (
        f"element_at(transform(array({a[0]}), __ip -> {inner}), 1)"
    )


# Round-5 probe tranche 10: MAC address codecs, CIDR containment and
# ranges, binary-string codec, bucketed rounding, UTC shifts,
# timestampDiff spelling, UUID v7/byte codecs, array set difference.
_ARG_REWRITES.update({
    "MACNumToString": _mac_num_to_string,
    "MACStringToNum": lambda a: (
        f"CAST(conv(replace({a[0]}, ':', ''), 16, 10) AS BIGINT)"
    ),
    "MACStringToOUI": lambda a: (
        f"CAST(conv(substring(replace({a[0]}, ':', ''), 1, 6), 16, 10) "
        f"AS BIGINT)"
    ),
    "isIPAddressInRange": lambda a: f"bh_ip_in_range({a[0]}, {a[1]})",
    "IPv4CIDRToRange": _ipv4_cidr_to_range,
    "IPv6CIDRToRange": lambda a: f"bh_ipv6_cidr_range({a[0]}, {a[1]})",
    "toIPv4": lambda a: "__TOIPV4__",  # replaced below (self-reference)
    # unbin: binary-digit string → text (inverse of bin). Left-pad to
    # whole octets, decode each 8-bit chunk.
    "unbin": lambda a: (
        f"array_join(transform(sequence(1, CAST(ceil(length({a[0]}) / 8.0) "
        f"AS INT)), __i -> char(conv(substring(lpad({a[0]}, "
        f"CAST(ceil(length({a[0]}) / 8.0) AS INT) * 8, '0'), "
        f"(__i - 1) * 8 + 1, 8), 2, 10))), '')"
    ),
    # roundDown(x, [b1, b2, ...]): largest bound <= x, else the
    # lowest bound (CH's clamp-to-first contract).
    "roundDown": lambda a: (
        f"coalesce(array_max(filter({a[1]}, __b -> __b <= ({a[0]}))), "
        f"element_at({a[1]}, 1))"
    ),
    "timestampDiff": lambda a: (
        f"timestampdiff({_unquote(a[0])}, {a[1]}, {a[2]})"
    ),
    "timeDiff": lambda a: f"timestampdiff(second, {a[0]}, {a[1]})",
    "toUTCTimestamp": lambda a: f"to_utc_timestamp({a[0]}, {a[1]})",
    "fromUTCTimestamp": lambda a: f"from_utc_timestamp({a[0]}, {a[1]})",
    "arraySymmetricDifference": lambda a: (
        f"array_distinct(concat(array_except({a[0]}, {a[1]}), "
        f"array_except({a[1]}, {a[0]})))"
    ),
    "format": lambda a: _format_builder(a),
    # JSONMergePatch(a, b, ...): RFC 7386 merge patch, folded left
    # over the UDF pair-merge.
    "JSONMergePatch": lambda a: (
        (_ for _ in ()).throw(
            ValueError("JSONMergePatch() needs at least two arguments")
        )
        if len(a) < 2
        else __import__("functools").reduce(
            lambda acc, nxt: f"bh_json_merge_patch({acc}, {nxt})", a
        )
    ),
    # CH decimal arithmetic with an explicit result scale; the 2-arg
    # forms fall through to Spark's decimal math.
    "multiplyDecimal": lambda a: (
        f"CAST(({a[0]}) * ({a[1]}) AS DECIMAL(38, {int(_unquote(a[2]))}))"
        if len(a) > 2 else f"(({a[0]}) * ({a[1]}))"
    ),
    "divideDecimal": lambda a: (
        f"CAST(({a[0]}) / ({a[1]}) AS DECIMAL(38, {int(_unquote(a[2]))}))"
        if len(a) > 2 else f"(({a[0]}) / ({a[1]}))"
    ),
    # 128-bit ints fit DECIMAL(38,0) up to 10^38-1 — beyond that ANSI
    # raises loudly (Int128's true ceiling is 1.7e38). 256-bit has no
    # Spark carrier at all.
    "toInt128": lambda a: f"CAST({a[0]} AS DECIMAL(38, 0))",
    "toUInt128": lambda a: f"CAST({a[0]} AS DECIMAL(38, 0))",
    "toInt256": lambda a: (_ for _ in ()).throw(
        ValueError(
            "toInt256/toUInt256: no Spark numeric carries 256 bits "
            "(DECIMAL caps at 38 digits); keep the value as a string "
            "or split it into hi/lo UInt64 halves"
        )
    ),
    "toUInt256": lambda a: (_ for _ in ()).throw(
        ValueError(
            "toInt256/toUInt256: no Spark numeric carries 256 bits "
            "(DECIMAL caps at 38 digits); keep the value as a string "
            "or split it into hi/lo UInt64 halves"
        )
    ),
    "runningConcurrency": lambda a: (_ for _ in ()).throw(
        ValueError(
            "runningConcurrency() is block-order dependent; the "
            "deterministic spelling is the interval sweep — "
            "maxIntersections(start, end) for the peak, or a window "
            "sum over +1/-1 events ORDER BY time for the running "
            "value"
        )
    ),
    "reinterpretAsUInt8": _reinterpret_uint_builder(1, False),
    "reinterpretAsUInt16": _reinterpret_uint_builder(2, False),
    "reinterpretAsUInt32": _reinterpret_uint_builder(4, False),
    "reinterpretAsUInt64": _reinterpret_uint_builder(8, False),
    "reinterpretAsInt8": _reinterpret_uint_builder(1, True),
    "reinterpretAsInt16": _reinterpret_uint_builder(2, True),
    "reinterpretAsInt32": _reinterpret_uint_builder(4, True),
    "reinterpretAsInt64": _reinterpret_uint_builder(8, True),
    # reinterpretAsString(n): the integer's little-endian bytes with
    # high-order zero bytes dropped (CH's contract).
    "reinterpretAsString": lambda a: (
        f"element_at(transform(array(lpad(hex(CAST({a[0]} AS BIGINT)), "
        f"16, '0')), __hx -> decode(unhex(regexp_replace("
        f"aggregate(sequence(1, 8), '', (__a, __i) -> "
        f"concat(substr(__hx, 2 * __i - 1, 2), __a)), "
        f"'(00)+$', '')), 'UTF-8')), 1)"
    ),
    "arrayFill": lambda a: _array_fill_builder(a, reverse=False),
    "arrayReverseFill": lambda a: _array_fill_builder(a, reverse=True),
    "bitPositionsToArray": lambda a: (
        f"filter(sequence(0, 63), __b -> "
        f"(shiftright(CAST({a[0]} AS BIGINT), __b) & 1) = 1)"
    ),
    # Column types carry no zone in Spark — every DateTime lives in
    # the session timezone, which is what timezoneOf can honestly
    # report.
    "timezoneOf": lambda a: "current_timezone()",
    "parseTimeDelta": lambda a: _parse_time_delta(a),
    "UUIDToNum": lambda a: (
        f"unhex(replace(CAST({a[0]} AS STRING), '-', ''))"
        if len(a) == 1 or str(a[1]).strip() == "1"
        else (_ for _ in ()).throw(
            ValueError(
                "UUIDToNum: only variant 1 (big-endian, the default) "
                "is implemented; variant 2's mixed-endian byte "
                "swapping is not"
            )
        )
    ),
    # UUIDv7: unix-millis timestamp in the top 48 bits, version 7,
    # RFC 4122 variant, random tail (CH's is random there too).
    "generateUUIDv7": lambda a: (
        "concat(substring(lpad(lower(hex(unix_millis(now()))), 12, '0'), "
        "1, 8), '-', "
        "substring(lpad(lower(hex(unix_millis(now()))), 12, '0'), 9, 4), "
        "'-7', substring(lower(md5(CAST(rand() AS STRING))), 1, 3), '-', "
        "element_at(array('8','9','a','b'), "
        "1 + CAST(rand() * 4 AS INT)), "
        "substring(lower(md5(CAST(rand() AS STRING))), 4, 3), '-', "
        "substring(lower(md5(CAST(rand() AS STRING))), 7, 12))"
    ),
    # -- guided refusals --
    "arrayNormalizedGini": lambda a: (_ for _ in ()).throw(
        ValueError(
            "arrayNormalizedGini() is not implemented; compute the "
            "Gini of sorted cumulative shares with aggregate() over "
            "array_sort, normalized by the perfect-equality curve"
        )
    ),
    "minSampleSizeConversion": lambda a: _min_sample_size_builder(
        "conversion", a
    ),
    "minSampleSizeContinous": lambda a: _min_sample_size_builder(
        "continuous", a
    ),
    "minSampleSizeContinuous": lambda a: _min_sample_size_builder(
        "continuous", a
    ),
    # Spearman's ρ with tie-averaged ranks. Rank-pairing is a rank
    # JOIN — no single Catalyst aggregate expresses it without an
    # O(n²) in-lambda rescan — so this is the Arrow-batched
    # grouped-agg pandas UDF (vectorized pandas rank + numpy
    # moments), the same tier as estimateCompressionRatio.
    "rankCorr": lambda a: (
        f"coalesce(bh_spearman(CAST({a[0]} AS DOUBLE), "
        f"CAST({a[1]} AS DOUBLE)), CAST('NaN' AS DOUBLE))"
        if len(a) == 2
        else (_ for _ in ()).throw(
            ValueError("rankCorr(x, y) takes exactly two arguments")
        )
    ),
})

# toIPv4 canonicalizes through the num round-trip (drops leading
# zeros, validates shape) — composed from the existing builders.
_ARG_REWRITES["toIPv4"] = lambda a: _ARG_REWRITES["IPv4NumToString"](
    [_ARG_REWRITES["IPv4StringToNum"]([a[0]])]
)


def _pos_in_string(sql: str, pos: int) -> bool:
    """True when ``pos`` falls inside a single-quoted literal
    (''-escapes handled by parity: each quote flips state, so the
    doubled quote flips twice and stays inside)."""
    in_q = False
    for i in range(pos):
        if sql[i] == "'":
            in_q = not in_q
    return in_q


def _rewrite_column_matchers(sql: str, spark) -> str:
    """CH ``COLUMNS('regex') [APPLY(fn)]`` and ``[t.]* APPLY(fn)`` —
    SELECT-list matchers expanded against the single simple FROM
    table's live schema. Joins, subquery sources, and table functions
    cannot be resolved at rewrite time and refuse with the
    explicit-columns guidance. Expanded names are backquoted (a
    column literally named ``max(c)`` must not re-parse as a call).
    ``* EXCEPT/REPLACE`` are native Spark and untouched."""

    def _base_columns() -> list[str]:
        if re.search(r"\bJOIN\b", sql, re.IGNORECASE):
            raise ValueError(
                "COLUMNS()/APPLY() over joins cannot be resolved at "
                "rewrite time; spell the columns explicitly"
            )
        m = re.search(r"\bFROM\s+(\()?[`\"]?([A-Za-z_]\w*)?", sql,
                      re.IGNORECASE)
        if not m or m.group(1) or not m.group(2):
            raise ValueError(
                "COLUMNS()/APPLY() need a single resolvable "
                "FROM <table>; spell the columns explicitly otherwise"
            )
        try:
            return spark.table(m.group(2)).columns
        except Exception:
            raise ValueError(
                f"COLUMNS()/APPLY(): cannot resolve table "
                f"{m.group(2)!r} at rewrite time; spell the columns "
                "explicitly"
            )

    def _guard_tail(out: str, at: int) -> None:
        if re.match(r"\s*APPLY\s*\(", out[at:], re.IGNORECASE):
            raise ValueError(
                "chained APPLY is not supported; nest the calls "
                "explicitly (f(g(col)))"
            )

    out = sql
    pos = 0
    while True:
        m = re.compile(
            r"\bCOLUMNS\s*\(\s*'([^']*)'\s*\)"
            r"(?:\s+APPLY\s*\(\s*(\w+)\s*\))?",
            re.IGNORECASE,
        ).search(out, pos)
        if m is None:
            break
        if _pos_in_string(out, m.start()):
            pos = m.start() + 1
            continue
        pat, fn = m.groups()
        if out[m.end(1) + 1 : m.end(1) + 2] == "'":
            raise ValueError(
                "COLUMNS(): patterns with escaped quotes are not "
                "supported; match on a simpler pattern"
            )
        cols = [c for c in _base_columns() if re.search(pat, c)]
        if not cols:
            raise ValueError(f"COLUMNS('{pat}') matched no columns")
        if fn:
            repl = ", ".join(
                f"{fn}(`{c}`) AS `{fn}({c})`" for c in cols
            )
        else:
            repl = ", ".join(f"`{c}`" for c in cols)
        out = out[: m.start()] + repl + out[m.end() :]
        _guard_tail(out, m.start() + len(repl))
        pos = m.start() + len(repl)
    # Any COLUMNS( left outside string literals is a shape the
    # pattern above couldn't parse (escaped quotes, non-literal
    # argument) — guide rather than leak UNRESOLVED_ROUTINE.
    scan = 0
    while True:
        m_res = re.compile(r"\bCOLUMNS\s*\(", re.IGNORECASE).search(
            out, scan
        )
        if m_res is None:
            break
        if _pos_in_string(out, m_res.start()):
            scan = m_res.start() + 1
            continue
        raise ValueError(
            "COLUMNS() takes a single-quoted literal regex with no "
            "escaped quotes; spell the columns explicitly for "
            "anything else"
        )
    pos = 0
    while True:
        m = re.compile(
            r"(?:\b[A-Za-z_]\w*\s*\.\s*)?\*\s+APPLY\s*\(\s*(\w+)\s*\)",
            re.IGNORECASE,
        ).search(out, pos)
        if m is None:
            break
        if _pos_in_string(out, m.start()):
            pos = m.start() + 1
            continue
        fn = m.group(1)
        repl = ", ".join(
            f"{fn}(`{c}`) AS `{fn}({c})`" for c in _base_columns()
        )
        out = out[: m.start()] + repl + out[m.end() :]
        _guard_tail(out, m.start() + len(repl))
        pos = m.start() + len(repl)
    return out


def _rewrite_has_column_in_table(sql: str, spark) -> str:
    """CH ``hasColumnInTable([host, user, pwd,] db, table, column)``
    → constant-folded boolean against the live catalog (the last two
    arguments are the table and column; database qualifiers beyond
    the registered view name are ignored). Unknown table → FALSE,
    matching CH's behavior for missing remote tables."""
    out = sql
    pos = 0
    while True:
        call = _find_call(out, "hasColumnInTable", pos)
        if call is None:
            return out
        start, end, args = call
        if len(args) < 2:
            raise ValueError(
                "hasColumnInTable needs (.., table, column) arguments"
            )
        tbl, col = _unquote(args[-2]), _unquote(args[-1])
        try:
            names = [f.name for f in spark.table(tbl).schema.fields]
            lit = "TRUE" if col in names else "FALSE"
        except Exception:
            lit = "FALSE"
        out = out[:start] + lit + out[end:]
        pos = start + 1


def _tuple_of_intervals(a: list, op: str) -> str:
    """CH ``addTupleOfIntervals(ts, (INTERVAL .., ...))`` → chained
    interval arithmetic. Literal tuples only (the dominant shape)."""
    t = a[1].strip()
    if not (t.startswith("(") and t.endswith(")")):
        raise ValueError(
            "addTupleOfIntervals: pass a literal tuple of INTERVALs"
        )
    out = f"({a[0]})"
    for iv in _split_args_top(t[1:-1]):
        out = f"({out} {op} ({iv.strip()}))"
    return out


_CH_AES_MODE_RE = re.compile(r"aes-(128|192|256)-(ecb|cbc|gcm)")


def _ch_cipher(fn_name: str, spark_fn: str, a: list) -> str:
    """CH ``encrypt/decrypt('aes-NNN-mode', data, key[, iv[, aad]])``
    → Spark ``aes_encrypt/aes_decrypt(data, key, MODE, 'DEFAULT'
    [, iv[, aad]])``. Spark infers the key size from the key itself,
    so the declared NNN is ENFORCED with a runtime assert — CH
    rejects a key whose length doesn't match the declared variant,
    and silently running a different AES variant would produce
    ciphertext no ClickHouse could ever produce. Literal modes only."""
    mode = _unquote(a[0]).lower()
    m = _CH_AES_MODE_RE.fullmatch(mode)
    if not m:
        raise ValueError(
            f"{fn_name}: unsupported cipher {mode!r} — aes-NNN-ecb/"
            "cbc/gcm (literal) are implemented"
        )
    key_bytes = int(m.group(1)) // 8
    # CASE/raise_error (not assert_true with equal branches, which
    # Catalyst's SimplifyConditionals folds away): wrong-length keys
    # raise instead of silently running a different AES variant.
    key = (
        f"(CASE WHEN octet_length(CAST({a[2]} AS BINARY)) = "
        f"{key_bytes} THEN {a[2]} ELSE raise_error('{fn_name}: "
        f"{mode} needs a {key_bytes}-byte key') END)"
    )
    args = [a[1], key, f"'{m.group(2).upper()}'", "'DEFAULT'"]
    args.extend(a[3:5])
    return f"{spark_fn}({', '.join(args)})"


def _default_for_spark_type(dt) -> str:
    """Default-value literal for a Spark type (CH zero semantics:
    0 / '' / epoch / empty collection; tuples default per-field)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        fields = ", ".join(
            f"'{f.name}', {_default_for_spark_type(f.dataType)}"
            for f in dt.fields
        )
        return f"named_struct({fields})"
    s = dt.simpleString()
    if s == "string":
        return "''"
    if s == "date":
        return "DATE '1970-01-01'"
    if s == "timestamp":
        return "TIMESTAMP '1970-01-01 00:00:00'"
    if s == "binary":
        return "CAST('' AS BINARY)"
    if s == "boolean":
        return "false"
    if s.startswith("array"):
        return f"CAST(array() AS {s})"
    if s.startswith("map"):
        return f"CAST(map() AS {s})"
    return f"CAST(0 AS {s})"


def _default_value_of_type(a: list) -> str:
    """CH ``defaultValueOfTypeName('Int64')`` → that type's zero
    value. ``Nullable(T)`` defaults to NULL (typed), like CH."""
    from bighouse_spark.dialect.schema import ch_type_to_spark

    raw = _unquote(a[0]).strip()
    dt = ch_type_to_spark(raw)
    if re.match(r"Nullable\s*\(", raw):
        return f"CAST(NULL AS {dt.simpleString()})"
    return _default_for_spark_type(dt)


# Round-5 probe tranche 11: AES ciphers, reverse sorts, type
# defaults, dateTrunc spelling, plus guided refusals for the
# dictionary/model/geometry families that genuinely need libraries
# the engine does not ship.
_ARG_REWRITES.update({
    "encrypt": lambda a: _ch_cipher("encrypt", "aes_encrypt", a),
    "decrypt": lambda a: (
        f"CAST({_ch_cipher('decrypt', 'aes_decrypt', a)} AS STRING)"
    ),
    # tryDecrypt: NULL on bad input instead of an error (CH
    # contract; Spark ships try_aes_decrypt).
    "tryDecrypt": lambda a: (
        f"CAST({_ch_cipher('tryDecrypt', 'try_aes_decrypt', a)} "
        f"AS STRING)"
    ),
    # MySQL flavor: for standard 16/24/32-byte keys identical to
    # encrypt; MySQL's fold-longer-keys quirk is not reproduced.
    "aes_encrypt_mysql": lambda a: _ch_cipher(
        "aes_encrypt_mysql", "aes_encrypt", a
    ),
    "aes_decrypt_mysql": lambda a: (
        f"CAST({_ch_cipher('aes_decrypt_mysql', 'aes_decrypt', a)} "
        f"AS STRING)"
    ),
    "arrayReverseSort": lambda a: (
        f"reverse(sort_array({a[0]}))"
        if len(a) == 1
        else f"reverse({_array_sort_builder(a)})"
    ),
    "arraySort": _array_sort_builder,
    "defaultValueOfTypeName": _default_value_of_type,
    "defaultValueOfArgumentType": lambda a: (_ for _ in ()).throw(
        ValueError(
            "defaultValueOfArgumentType needs expression typing; "
            "spell the type: defaultValueOfTypeName('Int64')"
        )
    ),
    "sumArgMin": lambda a: _sum_arg_builder("sumArgMin", "min", a),
    "sumArgMax": lambda a: _sum_arg_builder("sumArgMax", "max", a),
    "tupleConcat": _tuple_arith_builder("tupleConcat"),
    "arrayReverseSplit": _array_split_builder(True),
    # geohashesInBox: cell-grid enumeration in the shared geohash
    # helper module (Arrow-batched; per-row cell cap with guidance).
    "geohashesInBox": lambda a: (
        f"bh_geohashes_in_box(CAST({a[0]} AS DOUBLE), "
        f"CAST({a[1]} AS DOUBLE), CAST({a[2]} AS DOUBLE), "
        f"CAST({a[3]} AS DOUBLE), CAST({a[4]} AS INT))"
        if len(a) == 5
        else (_ for _ in ()).throw(
            ValueError(
                "geohashesInBox(lon_min, lat_min, lon_max, lat_max, "
                "precision) takes exactly five arguments"
            )
        )
    ),
    "detectLanguage": lambda a: f"bh_detect_language(CAST({a[0]} AS STRING))",
    "detectCharset": lambda a: (_ for _ in ()).throw(
        ValueError(
            "detectCharset() models don't ship with the engine; "
            "corpus text is UTF-8 by contract (toValidUTF8 scrubs)"
        )
    ),
    "lemmatize": lambda a: (_ for _ in ()).throw(
        ValueError(
            "lemmatize() needs language dictionaries that don't "
            "ship; stem/lemmatize upstream or use a tokenizer UDF"
        )
    ),
    "synonyms": lambda a: (_ for _ in ()).throw(
        ValueError(
            "synonyms() needs extension dictionaries that don't ship"
        )
    ),
    "seriesDecomposeSTL": lambda a: (_ for _ in ()).throw(
        ValueError(
            "seriesDecomposeSTL() (iterative STL) is not "
            "implemented; window moving averages cover trend/"
            "seasonal extraction"
        )
    ),
    "seriesOutliersDetectTukey": lambda a: _tukey_outliers_builder(a),
    # seriesPeriodDetectFFT: numpy rfft dominant-period (see
    # miscfuncs._series_period_fft for the contract). Degenerate
    # series re-coalesce to NaN JVM-side (Arrow flattens a returned
    # NaN to null — same trap as rankCorr); a NULL input stays NULL.
    "seriesPeriodDetectFFT": lambda a: (
        f"IF(({a[0]}) IS NULL, CAST(NULL AS DOUBLE), "
        f"coalesce(bh_series_period_fft({a[0]}), "
        f"CAST('NaN' AS DOUBLE)))"
    ),
    # getSetting('k') for a k that WAS set resolves to its literal
    # before this map runs (_rewrite_get_setting); reaching here
    # means the name was never SET in this query/session.
    "getSetting": lambda a: (_ for _ in ()).throw(
        ValueError(
            "getSetting(): that setting was not SET in this query "
            "or session; engine defaults surface through the "
            "system_settings view (SELECT * FROM system_settings)"
        )
    ),
    "transactionLatestSnapshot": lambda a: (_ for _ in ()).throw(
        ValueError(
            "experimental CH transactions are not implemented "
            "(single-statement semantics only)"
        )
    ),
    "polygonAreaCartesian": _polygon_fold_builder("polygonAreaCartesian"),
    "polygonPerimeterCartesian": _polygon_fold_builder("polygonPerimeterCartesian"),
    "countResample": lambda a: (_ for _ in ()).throw(
        ValueError(
            "countResample needs its parameters: countResample(start, end, step)(...)"
        )
    ),
    "isNotDistinctFrom": lambda a: f"(({a[0]}) <=> ({a[1]}))",
    # -ForEach combinators: element-wise aggregation across the
    # rows' arrays. Expression form folds the group's collected
    # arrays with zip_with (ragged lengths behave like CH: missing
    # positions contribute the identity). Empty input (e.g. a global
    # aggregate over zero rows) returns array() like CH — the CASE
    # guard keeps the element_at(…, 1) seed from throwing
    # INVALID_ARRAY_INDEX under Spark 4's ANSI mode. SCALE NOTE:
    # state is O(rows_in_group × array_len) at the collect — for
    # huge groups use the posexplode + GROUP BY pos spelling instead.
    "sumForEach": lambda a: _foreach_fold(
        a[0], "(a, b) -> coalesce(a, 0) + coalesce(b, 0)"
    ),
    # greatest/least already skip NULLs (ragged positions).
    "maxForEach": lambda a: _foreach_fold(a[0], "(a, b) -> greatest(a, b)"),
    "minForEach": lambda a: _foreach_fold(a[0], "(a, b) -> least(a, b)"),
    # avgForEach = element-wise sum / element-wise non-NULL count
    # (ragged arrays: positions missing from a row neither add nor
    # count, matching the sum/min/max -ForEach padding behavior).
    "avgForEach": lambda a: (
        f"zip_with("
        + _foreach_fold(
            f"transform({a[0]}, __v -> CAST(coalesce(__v, 0) AS DOUBLE))",
            "(a, b) -> coalesce(a, CAST(0 AS DOUBLE)) + "
            "coalesce(b, CAST(0 AS DOUBLE))",
        )
        + ", "
        + _foreach_fold(
            f"transform({a[0]}, __v -> IF(__v IS NULL, 0, 1))",
            "(a, b) -> coalesce(a, 0) + coalesce(b, 0)",
        )
        + ", (__s, __c) -> IF(__c = 0, CAST(NULL AS DOUBLE), __s / __c))"
    ),
    # Sub-second truncation: Spark timestamps are µs-precision, so
    # micro/nano truncation is the identity; milli truncates.
    "toStartOfMicrosecond": lambda a: f"CAST({a[0]} AS TIMESTAMP)",
    "toStartOfNanosecond": lambda a: f"CAST({a[0]} AS TIMESTAMP)",
    "toStartOfMillisecond": lambda a: (
        f"timestamp_millis(unix_millis(CAST({a[0]} AS TIMESTAMP)))"
    ),
    "addInterval": lambda a: f"(({a[0]}) + ({a[1]}))",
    # timestampAdd/timestampSub aliases of the INTERVAL arithmetic
    # (CH also spells them timestamp_add/timestamp_sub, which the
    # case-insensitive rename pass folds here).
    "timestampAdd": lambda a: f"(({a[0]}) + ({a[1]}))",
    "timestampSub": lambda a: f"(({a[0]}) - ({a[1]}))",
    "subtractInterval": lambda a: f"(({a[0]}) - ({a[1]}))",
    "subtractInterval": lambda a: f"(({a[0]}) - ({a[1]}))",
    "addTupleOfIntervals": lambda a: _tuple_of_intervals(a, "+"),
    "subtractTupleOfIntervals": lambda a: _tuple_of_intervals(a, "-"),
    "concatAssumeInjective": lambda a: f"concat({', '.join(a)})",
    # Random generators at CH's widths/distributions.
    "rand32": lambda a: "CAST(rand() * 4294967296 AS BIGINT)",
    # CH rand64() is uniform over [0, 2^64); shift the signed
    # xxhash64 into the unsigned range as DECIMAL(20,0).
    "rand64": lambda a: (
        "(CAST(xxhash64(uuid()) AS DECIMAL(20,0)) + "
        "CAST(9223372036854775808 AS DECIMAL(20,0)))"
    ),
    "randBernoulli": lambda a: f"CAST(rand() < ({a[0]}) AS INT)",
    "blockSize": lambda a: (_ for _ in ()).throw(
        ValueError(
            "blockSize() is block-scoped (no blocks here); "
            "count(*) OVER () gives the result-set size per row"
        )
    ),
    "rowNumberInAllBlocks": lambda a: (_ for _ in ()).throw(
        ValueError(
            "rowNumberInAllBlocks() is block-order dependent; use "
            "row_number() OVER (ORDER BY <key>) - 1 for a "
            "deterministic global row number"
        )
    ),
    # dateTrunc: 2-arg maps directly; the 3-arg timezone form
    # truncates in that zone (shift in, truncate, shift back).
    "dateTrunc": lambda a: (
        f"date_trunc({a[0]}, {a[1]})"
        if len(a) == 2
        else f"to_utc_timestamp(date_trunc({a[0]}, "
        f"from_utc_timestamp({a[1]}, {a[2]})), {a[2]})"
    ),
    # KeepNames flavors: our normalizeQuery already keeps
    # identifiers (it only replaces literals), so they alias.
    "normalizeQueryKeepNames": lambda a: _ARG_REWRITES[
        "normalizeQuery"
    ](a),
    "normalizedQueryHashKeepNames": lambda a: _ARG_REWRITES[
        "normalizedQueryHash"
    ](a),
    "isNullable": lambda a: (_ for _ in ()).throw(
        ValueError(
            "isNullable(): per-expression Nullable() typing is "
            "erased by this engine (Spark nullability lives in the "
            "schema — DESCRIBE the table)"
        )
    ),
    "bitSlice": lambda a: (_ for _ in ()).throw(
        ValueError(
            "bitSlice() (bit-level substring) is not implemented; "
            "substring() covers byte slices"
        )
    ),
    "formatQuery": lambda a: (_ for _ in ()).throw(
        ValueError(
            "formatQuery(): use EXPLAIN SYNTAX <query> to see the "
            "engine's rewritten form of a statement"
        )
    ),
    "sumResample": lambda a: (_ for _ in ()).throw(
        ValueError(
            "sumResample needs its parameters: sumResample(start, end, step)(...)"
        )
    ),
})


def _bin_builder(a: list[str]) -> str:
    """CH bin(): on strings, each BYTE as 8 bits; on integers, the
    minimal whole-byte width (bin(53) = '00110101', bin(256) =
    '0000000100000000'). String dispatch is by literal spelling —
    a string COLUMN needs bin(hex-trick) spelled explicitly since
    the argument type is unknown at transpile time."""
    x = a[0].strip()
    if x.startswith("'"):
        return (
            f"array_join(transform(regexp_extract_all(hex({x}), "
            f"'..', 0), __h -> lpad(conv(__h, 16, 2), 8, '0')), '')"
        )
    # conv(n, 10, 2) ≡ Spark bin(n) (incl. the unsigned-64 view of
    # negatives) but doesn't re-trigger this rewrite.
    n = f"conv(CAST({x} AS BIGINT), 10, 2)"
    return f"lpad({n}, CAST(ceil(length({n}) / 8) * 8 AS INT), '0')"


def _array_reduce_in_ranges(a: list[str]) -> str:
    """arrayReduceInRanges('agg', ranges, arr): arrayReduce over
    slice() per (offset, length) range. Ranges are CH 1-based tuples
    → Spark structs (col1, col2); slice shares CH's 1-based +
    negative-offset semantics."""
    if len(a) != 3:
        raise ValueError(
            "arrayReduceInRanges('agg', [(offset, length), ...], arr)"
        )
    inner = _array_reduce(
        [a[0], f"slice({a[2]}, (__r).col1, (__r).col2)"]
    )
    return f"transform({a[1]}, __r -> {inner})"


# Round-11 probe tranche: the ~310-spelling sweep's graduations —
# UTF-8 validity, byte-padded bin, URL port, map/array stragglers,
# IP OrZero/OrNull fills, cutIPv6, raw JSON pairs, timezone
# introspection, and the tryIdnaEncode error-absorbing variant.
_ARG_REWRITES.update({
    # CH returns UInt8; boolean matches this engine's predicate
    # convention (isIPv4String, hasToken).
    "isValidUTF8": lambda a: f"is_valid_utf8({a[0]})",
    "bin": _bin_builder,
    "makeDate32": lambda a: (
        f"make_date({', '.join(a)})"
        if len(a) == 3
        else _refuse(
            "makeDate32(year, month, day); the (year, day_of_year) "
            "form spells date_add(make_date(year, 1, 1), doy - 1)"
        )
    ),
    # Spark columns carry no zone: the session timezone is the only
    # honest answer (same contract as timezoneOf). An argument would
    # be CH's toTimezone cast — refuse rather than drop it.
    "timezone": lambda a: (
        "current_timezone()"
        if not a or a == [""]
        else _refuse(
            "timezone() takes no arguments; per-value zone casts "
            "are not representable (Spark timestamps carry no zone)"
        )
    ),
    "timeZone": lambda a: (
        "current_timezone()"
        if not a or a == [""]
        else _refuse(
            "timeZone() takes no arguments; per-value zone casts "
            "are not representable (Spark timestamps carry no zone)"
        )
    ),
    # Offset (seconds east of UTC) of the session zone at the given
    # instant: to_utc_timestamp shifts by exactly that offset.
    "timezoneOffset": lambda a: (
        f"CAST(unix_timestamp({a[0]}) - unix_timestamp("
        f"to_utc_timestamp({a[0]}, current_timezone())) AS INT)"
    ),
    "timeZoneOffset": lambda a: (
        f"CAST(unix_timestamp({a[0]}) - unix_timestamp("
        f"to_utc_timestamp({a[0]}, current_timezone())) AS INT)"
    ),
    # port(url[, default]): numeric suffix of the authority; CH
    # defaults to 0 when the URL carries no explicit port.
    "port": lambda a: (
        f"CAST(coalesce(nullif(regexp_extract(parse_url({a[0]}, "
        f"'AUTHORITY'), ':([0-9]+)$', 1), ''), "
        + (f"CAST({a[1]} AS STRING)" if len(a) > 1 else "'0'")
        + ") AS INT)"
    ),
    # Last 1-based index where the lambda holds, 0 when none — the
    # arrayFirstIndex mirror via the reversed boolean mask.
    "arrayLastIndex": lambda a: (
        f"CAST(coalesce(nullif(size({a[1]}) - array_position("
        f"reverse(transform({a[1]}, {a[0]})), true) + 1, "
        f"size({a[1]}) + 1), 0) AS INT)"
    ),
    "mapContainsKeyLike": lambda a: (
        f"exists(map_keys({a[0]}), __k -> __k LIKE {a[1]})"
    ),
    "arrayReduceInRanges": _array_reduce_in_ranges,
    # Raw JSON pairs: Array(Tuple(key, raw-value)) — strings keep
    # their quotes, objects/arrays come back verbatim (the same
    # VARIANT round-trip simpleJSONExtractRaw uses), field names
    # match JSONExtractKeysAndValues' map_entries shape.
    "JSONExtractKeysAndValuesRaw": lambda a: (
        f"transform(json_object_keys({a[0]}), __k -> named_struct("
        f"'key', __k, 'value', coalesce(to_json(variant_get("
        f"try_parse_json({a[0]}), concat('$.', __k), 'variant')), "
        f"'')))"
    ),
    # '' on un-encodable input, NULL on NULL (the tryPunycodeDecode
    # pattern — bh_idna_encode is already NULL-on-error).
    "tryIdnaEncode": lambda a: (
        f"IF(({a[0]}) IS NULL, CAST(NULL AS STRING), "
        f"coalesce(bh_idna_encode({a[0]}), ''))"
    ),
    # -- IP conversion OrZero/OrNull fills (the Or* family pattern
    # above; the bare IPv6 UDFs already yield NULL on bad input) --
    "IPv4StringToNumOrZero": lambda a: (
        f"IF({_ipv4_valid(a[0])}, "
        + _ARG_REWRITES["IPv4StringToNum"]([a[0]])
        + ", CAST(0 AS BIGINT))"
    ),
    "toIPv4OrZero": lambda a: (
        f"IF({_ipv4_valid(a[0])}, "
        + _ARG_REWRITES["toIPv4"]([a[0]])
        + ", '0.0.0.0')"
    ),
    "IPv6StringToNumOrNull": lambda a: f"bh_ipv6_ston({a[0]})",
    "IPv6StringToNumOrZero": lambda a: (
        f"coalesce(bh_ipv6_ston({a[0]}), "
        f"X'00000000000000000000000000000000')"
    ),
    "toIPv6OrNull": lambda a: f"bh_ipv6_norm({a[0]})",
    "toIPv6OrZero": lambda a: f"coalesce(bh_ipv6_norm({a[0]}), '::')",
    # cutIPv6(addr16, bytesToCutForIPv6, bytesToCutForIPv4): zero the
    # trailing bytes — the IPv4 cut width applies to IPv4-mapped
    # addresses (::ffff:a.b.c.d), the IPv6 width otherwise.
    # Exact/collect -State/-Merge family (round-11 seam sweep #2):
    # with the partial-is-the-value convention, the exact-distinct
    # state is the distinct collect and the collect state is the
    # array itself; -Merge re-folds stored states.
    # initializeAggregation('xState', v): a per-row single-value
    # state (the MV insert-transform idiom). Literal state names
    # dispatch under the partial-is-the-value convention; HLL-backed
    # uniqState has no per-row expression and refuses.
    "initializeAggregation": lambda a: _initialize_aggregation(a),
    "finalizeAggregation": lambda a: _refuse(
        "finalizeAggregation(state): the state's aggregate is not "
        "recoverable from its value here — use the typed finalizer "
        "over a single state instead (sumMerge/avgMerge/uniqMerge/"
        "quantileMerge(p)/uniqExactMerge/groupArrayMerge)"
    ),
    # CH window-function aliases of the RESPECT NULLS modifiers.
    "first_value_respect_nulls": lambda a: f"first_value({a[0]})",
    "last_value_respect_nulls": lambda a: f"last_value({a[0]})",
    # bare -State spellings of the collect-backed parametrics (the
    # level/k lives in -Merge, not the state)
    "quantileState": lambda a: f"array_sort(collect_list({a[0]}))",
    "quantilesState": lambda a: f"array_sort(collect_list({a[0]}))",
    "medianState": lambda a: f"array_sort(collect_list({a[0]}))",
    "topKState": lambda a: f"collect_list({a[0]})",
    "medianMerge": lambda a: _quantile_r7_over(
        f"array_sort(flatten(collect_list({a[0]})))", "0.5"
    ),
    "uniqExactState": lambda a: f"array_sort(collect_set({a[0]}))",
    "uniqExactMerge": lambda a: (
        f"CAST(size(array_distinct(flatten(collect_list({a[0]})))) "
        f"AS BIGINT)"
    ),
    "groupArrayState": lambda a: f"collect_list({a[0]})",
    "groupArrayMerge": lambda a: f"flatten(collect_list({a[0]}))",
    "groupUniqArrayState": lambda a: f"array_sort(collect_set({a[0]}))",
    "groupUniqArrayMerge": lambda a: (
        f"array_distinct(flatten(collect_list({a[0]})))"
    ),
    # countIf(cond) and CH's countIf(x, cond): count of non-NULL x
    # where cond holds.
    "countIf": lambda a: (
        f"count_if({a[0]})"
        if len(a) == 1
        else f"count(CASE WHEN ({a[1]}) THEN ({a[0]}) END)"
        if len(a) == 2
        else _refuse("countIf(cond) or countIf(x, cond)")
    ),
    # -If over the map aggregates (round-11 seam sweep): filter rows
    # BEFORE the group fold; collect_list skips the NULLed-out rows.
    "sumMapIf": lambda a: _map_agg_if(
        a, "(__k, __a, __b) -> coalesce(__a, 0) + coalesce(__b, 0)"
    ),
    "minMapIf": lambda a: _map_agg_if(
        a, "(__k, __a, __b) -> least(__a, __b)"
    ),
    "maxMapIf": lambda a: _map_agg_if(
        a, "(__k, __a, __b) -> greatest(__a, __b)"
    ),
    # -State/-Merge over the map aggregates: the partial IS the
    # folded map (the sumState convention), so both spell as the
    # base fold.
    "sumMapState": lambda a: _map_agg_fold(
        a, "(__k, __a, __b) -> coalesce(__a, 0) + coalesce(__b, 0)"
    ),
    "sumMapMerge": lambda a: _map_agg_fold(
        a, "(__k, __a, __b) -> coalesce(__a, 0) + coalesce(__b, 0)"
    ),
    "minMapState": lambda a: _map_agg_fold(
        a, "(__k, __a, __b) -> least(__a, __b)"
    ),
    "minMapMerge": lambda a: _map_agg_fold(
        a, "(__k, __a, __b) -> least(__a, __b)"
    ),
    "maxMapState": lambda a: _map_agg_fold(
        a, "(__k, __a, __b) -> greatest(__a, __b)"
    ),
    "maxMapMerge": lambda a: _map_agg_fold(
        a, "(__k, __a, __b) -> greatest(__a, __b)"
    ),
    # bare groupBitmapXor: the XorState fold's cardinality (the
    # State/Merge forms existed; the bare spelling was the gap).
    "groupBitmapXor": lambda a: (
        f"CAST(size(aggregate(collect_list({a[0]}), "
        f"slice(first({a[0]}), 1, 0), "
        f"(__acc, __b) -> array_except(array_union(__acc, __b), "
        f"array_intersect(__acc, __b)))) AS BIGINT)"
    ),
    # -ForEach x -If: NULL out non-matching rows before the
    # element-wise fold (collect_list skips them).
    "sumForEachIf": lambda a: _foreach_fold(
        f"CASE WHEN ({a[1]}) THEN ({a[0]}) END",
        "(a, b) -> coalesce(a, 0) + coalesce(b, 0)",
    ),
    "minForEachIf": lambda a: _foreach_fold(
        f"CASE WHEN ({a[1]}) THEN ({a[0]}) END",
        "(a, b) -> least(a, b)",
    ),
    "maxForEachIf": lambda a: _foreach_fold(
        f"CASE WHEN ({a[1]}) THEN ({a[0]}) END",
        "(a, b) -> greatest(a, b)",
    ),
    "avgForEachIf": lambda a: _ARG_REWRITES["avgForEach"](
        [f"CASE WHEN ({a[1]}) THEN ({a[0]}) END"]
    ),
    "avgWeightedIf": lambda a: (
        f"(sum(CASE WHEN ({a[2]}) THEN ({a[0]}) * ({a[1]}) END) / "
        f"sum(CASE WHEN ({a[2]}) THEN ({a[1]}) END))"
    ),
    "medianArray": lambda a: _refuse(
        "medianArray/quantileArray estimate over ARRAY ELEMENTS, "
        "which the t-digest twin cannot fold per-group; flatten "
        "first (ARRAY JOIN / explode) and aggregate the elements, "
        "or use quantileExactExclusiveArray for the exact estimator"
    ),
    # toDayOfWeek(d[, mode]): CH's MySQL-flavor weekday modes —
    # 0: Mon=1..Sun=7 (default), 1: Mon=0, 2: Sun=1, 3: Sun=0.
    "toDayOfWeek": lambda a: (
        f"(weekday({a[0]}) + 1)"
        if len(a) == 1
        else {
            "0": f"(weekday({a[0]}) + 1)",
            "1": f"weekday({a[0]})",
            "2": f"dayofweek({a[0]})",
            "3": f"(dayofweek({a[0]}) - 1)",
        }.get(
            a[1].strip() if len(a) == 2 else None,
            None,
        )
        or _refuse(
            "toDayOfWeek(date[, mode]): literal mode 0-3 (the "
            "timezone argument is not transpiled — Spark dates "
            "carry no zone)"
        )
    ),
    # IP OrDefault fills (CH returns the type default, or the
    # explicit default when given).
    "toIPv4OrDefault": lambda a: (
        f"IF({_ipv4_valid(a[0])}, "
        + _ARG_REWRITES["toIPv4"]([a[0]])
        + ", " + (a[1] if len(a) > 1 else "'0.0.0.0'") + ")"
    ),
    "toIPv6OrDefault": lambda a: (
        f"coalesce(bh_ipv6_norm({a[0]}), "
        + (a[1] if len(a) > 1 else "'::'") + ")"
    ),
    "IPv6StringToNumOrDefault": lambda a: (
        f"coalesce(bh_ipv6_ston({a[0]}), "
        + (
            a[1]
            if len(a) > 1
            else "X'00000000000000000000000000000000'"
        )
        + ")"
    ),
    # -Array over the collect bases (the generic -Array combinator
    # covers sum/min/max/avg/uniq): concat all row arrays; the Uniq
    # form dedups elements (CH order is unspecified — sort to taste).
    "groupArrayArray": lambda a: f"flatten(collect_list({a[0]}))",
    "groupUniqArrayArray": lambda a: (
        f"array_distinct(flatten(collect_list({a[0]})))"
    ),
    # -- round-11 tranche 3: named refusals for the last names that
    # fell to UNRESOLVED_ROUTINE (version- or context-bound) --
    "variantType": lambda a: _refuse(
        "variantType(): the Variant column type ships in ClickHouse "
        ">= 24.1, newer than the reference's pinned CH 23.6 — typed "
        "columns answer typeof(x) here"
    ),
    "variantElement": lambda a: _refuse(
        "variantElement(): the Variant column type ships in "
        "ClickHouse >= 24.1, newer than the reference's pinned "
        "CH 23.6"
    ),
    "getClientHTTPHeader": lambda a: _refuse(
        "getClientHTTPHeader() (CH >= 24.4) reads connection-scoped "
        "state; HTTP headers are not visible to queries here"
    ),
    "structureToCapnProtoSchema": lambda a: _refuse(
        "structureToCapnProtoSchema(): CapnProto is not in the "
        "FORMAT surface; see formats.py for the served formats"
    ),
    "structureToProtobufSchema": lambda a: _refuse(
        "structureToProtobufSchema(): Protobuf is not in the "
        "FORMAT surface; see formats.py for the served formats"
    ),
    # repeat() on BINARY degrades to STRING; unhex(repeat('00', n))
    # keeps the zero-fill binary.
    "cutIPv6": lambda a: (
        f"bh_ipv6_ntos(IF(substring({a[0]}, 1, 12) = "
        f"X'00000000000000000000FFFF', "
        f"concat(substring({a[0]}, 1, 16 - CAST({a[2]} AS INT)), "
        f"unhex(repeat('00', CAST({a[2]} AS INT)))), "
        f"concat(substring({a[0]}, 1, 16 - CAST({a[1]} AS INT)), "
        f"unhex(repeat('00', CAST({a[1]} AS INT))))))"
    ),
})


def _tumble_seconds(iv: str, fn: str) -> int:
    """Literal ``INTERVAL n SECOND/MINUTE/HOUR/DAY/WEEK`` → seconds.
    Calendar units (month/quarter/year) vary in length and refuse
    with the toStartOf* spelling; non-literal sizes refuse (the
    bucket arithmetic needs a transpile-time constant)."""
    m = re.fullmatch(
        r"(?is)\s*INTERVAL\s+(\d+)\s+"
        r"(SECOND|MINUTE|HOUR|DAY|WEEK)S?\s*",
        iv,
    )
    if not m:
        raise ValueError(
            f"{fn}: the window size must be a literal INTERVAL n "
            "SECOND/MINUTE/HOUR/DAY/WEEK (calendar units vary in "
            "length — use toStartOfMonth/toStartOfQuarter/"
            "toStartOfYear for those)"
        )
    return int(m.group(1)) * {
        "SECOND": 1, "MINUTE": 60, "HOUR": 3600,
        "DAY": 86400, "WEEK": 604800,
    }[m.group(2).upper()]


def _tumble_start_expr(a: list[str], fn: str) -> str:
    if len(a) != 2:
        raise ValueError(
            f"{fn}(time, INTERVAL n UNIT) takes exactly two "
            "arguments (a timezone argument is not representable — "
            "Spark timestamps carry no zone)"
        )
    s = _tumble_seconds(a[1], fn)
    return (
        f"timestamp_seconds(CAST(floor(unix_timestamp({a[0]}) "
        f"/ {s}) * {s} AS BIGINT))"
    )


def _parse_best_effort_us(a: list[str]) -> str:
    """parseDateTimeBestEffortUS: month-first readings of the
    ambiguous slash/dash forms win, then the regular best-effort
    arms. Throws on unparseable non-NULL input like CH."""
    if len(a) != 1:
        raise ValueError(
            "parseDateTimeBestEffortUS(x) takes one argument (the "
            "timezone form is served by parseDateTimeBestEffort)"
        )
    x = a[0]
    base = _parse_best_effort_builder(False, True)(a)
    parsed = (
        f"coalesce(try_to_timestamp({x}, 'MM/dd/yyyy HH:mm:ss'), "
        f"try_to_timestamp({x}, 'MM/dd/yyyy'), "
        f"try_to_timestamp({x}, 'MM-dd-yyyy'), "
        f"{base})"
    )
    msg = (
        "parseDateTimeBestEffortUS: cannot parse the input as a "
        "datetime"
    )
    return (
        f"coalesce({parsed}, IF(({x}) IS NULL, "
        f"CAST(NULL AS TIMESTAMP), "
        f"CAST(raise_error('{msg}') AS TIMESTAMP)))"
    )


def _reinterpret_dispatch(a: list[str]) -> str:
    """reinterpret(x, 'Type') → the served reinterpretAs* entry."""
    if len(a) != 2 or not re.fullmatch(r"'[^']*'", a[1].strip()):
        raise ValueError(
            "reinterpret(x, 'Type') needs a literal type name"
        )
    t = _unquote(a[1].strip())
    target = f"reinterpretAs{t}"
    if target not in _ARG_REWRITES:
        raise ValueError(
            f"reinterpret(x, '{t}') is not served; supported targets "
            "are the reinterpretAs* family (UInt8..64, Int8..64, "
            "String, Date, DateTime)"
        )
    return _ARG_REWRITES[target]([a[0]])


def _extract_all_builder(a: list[str]) -> str:
    """extractAll(s, 'pattern'): all matches; if the pattern has a
    capture group, the first group per match (CH's contract). Group
    presence must be decided at transpile time — non-literal
    patterns refuse naming regexp_extract_all."""
    if len(a) != 2:
        raise ValueError("extractAll(haystack, pattern)")
    pat = a[1].strip()
    if not re.fullmatch(r"'(?:[^']|'')*'", pat):
        raise ValueError(
            "extractAll needs a literal pattern (the capture-group "
            "arity is part of the semantics); spell "
            "regexp_extract_all(s, pattern, group) directly for a "
            "computed pattern"
        )
    body = _unquote(pat)
    has_group = re.search(r"(?<!\\)\((?!\?)", body) is not None
    return f"regexp_extract_all({a[0]}, {pat}, {1 if has_group else 0})"


_H3_REFUSAL = (
    "H3 functions need the H3 index library, which does not ship "
    "with the engine; geohashEncode/geohashDecode are the supported "
    "spatial-bucketing twins"
)

# Round-12 probe tranche: the CH 23.6 full-index set-difference sweep
# (tests/test_ch236_sweep.py) — every name below previously fell
# through to Spark's opaque UNRESOLVED_ROUTINE. Served where an exact
# Spark expression exists; guided refusals where the semantics need
# libraries or block-order guarantees that don't ship.
_ARG_REWRITES.update({
    # -- date/time --
    "addQuarters": lambda a: (
        f"({_interval_operand(a[0])} + make_ym_interval(0, CAST(3 * ({a[1]}) AS INT)))"
    ),
    "subtractQuarters": lambda a: (
        f"({_interval_operand(a[0])} - make_ym_interval(0, CAST(3 * ({a[1]}) AS INT)))"
    ),
    "toIntervalQuarter": lambda a: f"make_interval(0, 3 * ({a[0]}))",
    # ISO year starts the Monday of the week containing Jan 4.
    "toStartOfISOYear": lambda a: (
        f"to_date(date_trunc('week', "
        f"make_date(extract(YEAROFWEEK FROM {a[0]}), 1, 4)))"
    ),
    "toRelativeYearNum": lambda a: (
        f"CAST(extract(YEAR FROM {a[0]}) AS BIGINT)"
    ),
    "toTimezone": lambda a: _ARG_REWRITES["toTimeZone"](a),
    "timeZoneOf": lambda a: "current_timezone()",
    "parseDateTimeOrZero": lambda a: (
        f"coalesce({_ARG_REWRITES['parseDateTimeOrNull'](a)}, "
        f"TIMESTAMP'1970-01-01 00:00:00')"
    ),
    "parseDateTimeInJodaSyntaxOrZero": lambda a: (
        f"coalesce(try_to_timestamp({a[0]}, {a[1]}), "
        f"TIMESTAMP'1970-01-01 00:00:00')"
    ),
    "parseDateTimeBestEffortOrZero": lambda a: (
        f"coalesce({_parse_best_effort_builder(False, True)(a)}, "
        f"TIMESTAMP'1970-01-01 00:00:00')"
    ),
    "parseDateTime32BestEffort": _parse_best_effort_builder(
        False, False
    ),
    "parseDateTimeBestEffortUS": _parse_best_effort_us,
    # -- tumbling windows (scalar forms; the GROUP BY window view is
    # the windowed-aggregation path) --
    "tumbleStart": lambda a: _tumble_start_expr(a, "tumbleStart"),
    "tumbleEnd": lambda a: (
        f"({_tumble_start_expr(a, 'tumbleEnd')} + make_dt_interval("
        f"0, 0, 0, {_tumble_seconds(a[1], 'tumbleEnd')}))"
    ),
    "tumble": lambda a: (
        f"named_struct('start', {_tumble_start_expr(a, 'tumble')}, "
        f"'end', ({_tumble_start_expr(a, 'tumble')} + "
        f"make_dt_interval(0, 0, 0, "
        f"{_tumble_seconds(a[1], 'tumble')})))"
    ),
    **{
        n: (lambda nm: lambda a: (_ for _ in ()).throw(
            ValueError(
                f"{nm}(): a hopping window assigns each row to "
                "window/hop OVERLAPPING windows, which a scalar "
                "cannot carry; explode the assignment explicitly "
                "(explode(sequence(...)) over window starts) or use "
                "tumbleStart for non-overlapping buckets"
            )
        ))(n)
        for n in ("hop", "hopStart", "hopEnd")
    },
    # -- strings --
    "countSubstringsCaseInsensitiveUTF8": lambda a: (
        _ARG_REWRITES["countSubstringsCaseInsensitive"](a)
    ),
    "multiSearchAllPositionsUTF8": lambda a: (
        _ARG_REWRITES["multiSearchAllPositions"](a)
    ),
    "hasSubsequenceCaseInsensitive": lambda a: (
        _ARG_REWRITES["hasSubsequence"](
            [f"lower({a[0]})", f"lower({a[1]})"]
        )
    ),
    "stringJaccardIndexUTF8": lambda a: (
        _ARG_REWRITES["stringJaccardIndex"](a)
    ),
    # CH alias of byteHammingDistance.
    "mismatches": lambda a: _ARG_REWRITES["byteHammingDistance"](a),
    "notLike": lambda a: f"(NOT (({a[0]}) LIKE {a[1]}))",
    "randomFixedString": lambda a: _ARG_REWRITES["randomString"](a),
    # Random codepoints from the 2-byte UTF-8 plane (valid UTF-8 by
    # construction; CH's draw is byte-random valid UTF-8).
    "randomStringUTF8": lambda a: (
        f"(CASE WHEN ({a[0]}) <= 0 THEN '' ELSE "
        f"array_join(transform(sequence(1, {a[0]}), "
        f"__i -> char(161 + CAST(rand() * 1887 AS INT))), '') END)"
    ),
    "extractAll": _extract_all_builder,
    "caseWithoutExpression": _multi_if,
    # -- JSON fast-path UInt twins (cast wide: CH UInt64) --
    "visitParamExtractUInt": lambda a: (
        f"CAST(get_json_object({a[0]}, '$.{_unquote(a[1])}') "
        f"AS DECIMAL(20,0))"
    ),
    "simpleJSONExtractUInt": lambda a: (
        f"CAST(get_json_object({a[0]}, '$.{_unquote(a[1])}') "
        f"AS DECIMAL(20,0))"
    ),
    # -- hashes --
    # Same non-bit-exact posture as sipHash128 (deviations ledger).
    "sipHash128Reference": lambda a: _ARG_REWRITES["sipHash128"](a),
    **{
        n: (lambda nm: lambda a: (_ for _ in ()).throw(
            ValueError(
                f"{nm}() keyed SipHash needs the key-scheduled "
                "SipHash rounds, which this engine's hash twins do "
                "not model; mix the key into the served twin "
                "explicitly: sipHash64(k0, k1, x)"
            )
        ))(n)
        for n in ("sipHash64Keyed", "sipHash128Keyed")
    },
    "MD4": lambda a: (_ for _ in ()).throw(
        ValueError(
            "MD4 needs OpenSSL's legacy provider, which does not "
            "ship; MD5/SHA1/SHA256 are served"
        )
    ),
    "BLAKE3": lambda a: (_ for _ in ()).throw(
        ValueError(
            "BLAKE3 needs the blake3 library, which does not ship; "
            "SHA256 (cryptographic) or xxHash64 (fast) are the "
            "served alternatives"
        )
    ),
    # -- IP / MAC --
    # Same dual-representation dispatch as IPv4NumToString: numeric
    # → octet math; dotted-string IPv4 → mask the last octet in text.
    "IPv4NumToStringClassC": lambda a: (
        f"(CASE WHEN TRY_CAST({a[0]} AS BIGINT) IS NOT NULL THEN "
        f"concat(CAST(shiftright(TRY_CAST({a[0]} AS BIGINT), 24) "
        f"& 255 AS STRING), '.', "
        f"CAST(shiftright(TRY_CAST({a[0]} AS BIGINT), 16) "
        f"& 255 AS STRING), '.', "
        f"CAST(shiftright(TRY_CAST({a[0]} AS BIGINT), 8) "
        f"& 255 AS STRING), '.xxx') "
        f"ELSE regexp_replace(CAST({a[0]} AS STRING), "
        f"'\\\\.[0-9]+$', '.xxx') END)"
    ),
    "MACStringToNumOrNull": lambda a: (
        f"(CASE WHEN ({a[0]}) RLIKE "
        f"'^([0-9A-Fa-f]{{2}}:){{5}}[0-9A-Fa-f]{{2}}$' THEN "
        f"{_ARG_REWRITES['MACStringToNum'](a)} END)"
    ),
    "MACStringToNumOrDefault": lambda a: (
        f"coalesce({_ARG_REWRITES['MACStringToNumOrNull']([a[0]])}, "
        + (f"{a[1]})" if len(a) > 1 else "CAST(0 AS BIGINT))")
    ),
    # -- UUID / julian --
    "toUUIDOrDefault": lambda a: (
        f"coalesce({_ARG_REWRITES['toUUIDOrNull']([a[0]])}, {a[1]})"
    ),
    # CH's supported Gregorian proleptic range.
    "fromModifiedJulianDayOrNull": lambda a: (
        f"(CASE WHEN ({a[0]}) BETWEEN -678941 AND 2973483 THEN "
        f"date_add(DATE'1858-11-17', CAST({a[0]} AS INT)) END)"
    ),
    # -- reinterpret family completion --
    "reinterpretAsDate": lambda a: (
        f"date_add(DATE'1970-01-01', "
        f"CAST({_reinterpret_uint_builder(2, False)(a)} AS INT))"
    ),
    "reinterpretAsDateTime": lambda a: (
        f"timestamp_seconds("
        f"CAST({_reinterpret_uint_builder(4, False)(a)} AS BIGINT))"
    ),
    "reinterpret": _reinterpret_dispatch,
    **{
        n: (lambda nm: lambda a: (_ for _ in ()).throw(
            ValueError(
                f"{nm}() needs IEEE-754 bit reinterpretation, which "
                "Spark expressions cannot spell; the integer family "
                "(reinterpretAsUInt8..64 / Int8..64 / String / Date "
                "/ DateTime) is served"
            )
        ))(n)
        for n in ("reinterpretAsFloat32", "reinterpretAsFloat64",
                  "reinterpretAsUUID")
    },
    # -- bitmap (sorted-distinct-array representation) --
    "bitmapTransform": lambda a: (
        f"array_sort(array_distinct(transform({a[0]}, "
        f"__x -> IF(array_position({a[1]}, __x) > 0, "
        f"element_at({a[2]}, CAST(array_position({a[1]}, __x) "
        f"AS INT)), __x))))"
    ),
    # -- control / introspection --
    # CH throwIf takes a NUMERIC condition (anything non-zero
    # throws); Spark's IF wants a boolean, so coerce with CAST.
    "throwIf": lambda a: (
        f"IF(CAST(({a[0]}) AS BOOLEAN), CAST(raise_error("
        + (a[1] if len(a) > 1 else "'throwIf condition met'")
        + ") AS INT), CAST(0 AS INT))"
    ),
    "filesystemUnreserved": lambda a: (_ for _ in ()).throw(
        ValueError(
            "filesystem metrics are host introspection; query the "
            "system_profile view instead"
        )
    ),
    "hasColumnInTable": lambda a: (_ for _ in ()).throw(
        ValueError(
            "hasColumnInTable() is catalog introspection; query "
            "DESCRIBE TABLE or the system_columns view instead"
        )
    ),
    "evalMLMethod": lambda a: (_ for _ in ()).throw(
        ValueError(
            "evalMLMethod() applies a trained CH regression state; "
            "model training/serving belongs to Spark MLlib "
            "(LinearRegression / LogisticRegression)"
        )
    ),
    "generateRandomStructure": lambda a: (_ for _ in ()).throw(
        ValueError(
            "generateRandomStructure() synthesizes random DDL; "
            "spell the schema explicitly"
        )
    ),
    "fuzzBits": lambda a: (_ for _ in ()).throw(
        ValueError(
            "fuzzBits() is a CH fuzz-testing helper with no "
            "deterministic contract; randomString/randomFixedString "
            "are the served generators"
        )
    ),
    "getSizeOfEnumType": lambda a: (_ for _ in ()).throw(
        ValueError(
            "Enum columns are plain strings in this engine; "
            "count(DISTINCT x) gives the live cardinality"
        )
    ),
    "isDecimalOverflow": lambda a: (_ for _ in ()).throw(
        ValueError(
            "isDecimalOverflow() probes CH decimal internals; Spark "
            "decimals raise on overflow under ANSI mode instead"
        )
    ),
    "replicate": lambda a: (_ for _ in ()).throw(
        ValueError(
            "replicate() is a CH-internal block helper; "
            "array_repeat(x, n) is the user-facing spelling"
        )
    ),
    "runningDifferenceStartingWithFirstValue": lambda a: (
        (_ for _ in ()).throw(
            ValueError(
                "runningDifferenceStartingWithFirstValue() is "
                "block-order dependent and deprecated in ClickHouse; "
                f"use {a[0]} - lag({a[0]}, 1, 0) OVER "
                "(ORDER BY <key>)"
            )
        )
    ),
    "dictIsIn": lambda a: (_ for _ in ()).throw(
        ValueError(
            "hierarchical dictionary traversal (dictIsIn/"
            "dictGetHierarchy/dictGetChildren/dictGetDescendants) "
            "is not supported; flat dictGet/dictHas over CREATE "
            "DICTIONARY sources are served"
        )
    ),
    # -- language detection family (base detectLanguage is served
    # by the n-gram UDF; Unknown is its alias contract) --
    "detectLanguageUnknown": lambda a: (
        f"bh_detect_language(CAST({a[0]} AS STRING))"
    ),
    **{
        n: (lambda nm: lambda a: (_ for _ in ()).throw(
            ValueError(
                f"{nm}() needs per-fragment language models that "
                "do not ship; detectLanguage (whole-string n-gram "
                "heuristic) is served"
            )
        ))(n)
        for n in ("detectLanguageMixed", "detectTokenLanguage",
                  "detectProgrammingLanguage")
    },
    # -- sketch spellings: same dedup-library pointer as the bases --
    **{
        n: (lambda nm: lambda a: (_ for _ in ()).throw(
            ValueError(
                f"{nm}() per-value sketch tuples are served by the "
                "dedup operator library (operators/dedup.py)"
            )
        ))(n)
        for n in ("ngramSimHashCaseInsensitive", "ngramSimHashUTF8",
                  "wordShingleSimHashCaseInsensitive",
                  "wordShingleSimHashUTF8")
    },
    **{
        n: (lambda nm: lambda a: (_ for _ in ()).throw(
            ValueError(
                f"{nm}() needs a fuzzy regex engine (hyperscan) "
                "that does not ship; combine multiMatchAnyIndex / "
                "multiMatchAllIndices with editDistance checks"
            )
        ))(n)
        for n in ("multiFuzzyMatchAnyIndex",
                  "multiFuzzyMatchAllIndices")
    },
    # -- geobase (needs regions hierarchy files CH loads at boot) --
    **{
        n: (lambda nm: lambda a: (_ for _ in ()).throw(
            ValueError(
                f"{nm}() needs the CH embedded-geobase hierarchy "
                "files, which do not ship; join a regions dimension "
                "table explicitly"
            )
        ))(n)
        # regionToName already refuses above with the geobase text.
        for n in ("regionIn", "regionToArea", "regionToCity",
                  "regionToContinent", "regionToCountry",
                  "regionToDistrict", "regionToPopulation",
                  "regionToTopContinent")
    },
    # -- H3 completion (same refusal as h3ToGeo/geoToH3) --
    **{
        n: (lambda nm: lambda a: (_ for _ in ()).throw(
            ValueError(_H3_REFUSAL)
        ))(n)
        for n in ("h3IsValid", "h3GetResolution", "h3EdgeAngle",
                  "h3EdgeLengthM", "h3GetBaseCell", "h3HexAreaM2",
                  "h3IndexesAreNeighbors", "h3ToChildren",
                  "h3ToParent", "h3ToString", "h3kRing",
                  "h3ToGeoBoundary", "stringToH3")
    },
})


# Round-12 probe tranche 2: the second sweep pass — typed-conversion
# OrX fills, window-function spellings, tuple-vector aliases,
# single-warm-session introspection literals, and refusals for the
# storage-encoding / Join-engine / computational-geometry families.
_ARG_REWRITES.update({
    # -- conversion OrX fills (Int256/UInt256 widen to Spark's
    # DECIMAL(38,0), the documented UInt64-style posture) --
    "toDate32OrDefault": lambda a: (
        f"coalesce(TRY_CAST({a[0]} AS DATE), "
        + (f"{a[1]})" if len(a) > 1 else "DATE'1900-01-01')")
    ),
    "toDateTime64OrZero": lambda a: (
        f"coalesce(TRY_CAST({a[0]} AS TIMESTAMP), "
        f"TIMESTAMP'1970-01-01 00:00:00')"
    ),
    "toDateTime64OrNull": lambda a: f"TRY_CAST({a[0]} AS TIMESTAMP)",
    "toInt256OrZero": lambda a: (
        f"coalesce(TRY_CAST({a[0]} AS DECIMAL(38,0)), "
        f"CAST(0 AS DECIMAL(38,0)))"
    ),
    "toInt256OrNull": lambda a: f"TRY_CAST({a[0]} AS DECIMAL(38,0))",
    "toUInt256OrNull": lambda a: (
        f"element_at(transform(array(TRY_CAST({a[0]} AS "
        f"DECIMAL(38,0))), __v -> IF(__v >= 0, __v, "
        f"CAST(NULL AS DECIMAL(38,0)))), 1)"
    ),
    "toUInt256OrZero": lambda a: (
        f"coalesce({_ARG_REWRITES['toUInt256OrNull'](a)}, "
        f"CAST(0 AS DECIMAL(38,0)))"
    ),
    # -- window spellings --
    "percentRank": lambda a: "percent_rank()",
    # -- tuple-vector aliases --
    "vectorSum": lambda a: _ARG_REWRITES["tuplePlus"](a),
    "vectorDifference": lambda a: _ARG_REWRITES["tupleMinus"](a),
    "mapPartialReverseSort": lambda a: (_ for _ in ()).throw(
        ValueError(
            "map ordering is cosmetic on unordered Spark maps; sort "
            "map_entries() explicitly"
        )
    ),
    "arrayEnumerateDenseRanked": lambda a: (
        _ARG_REWRITES["arrayEnumerateDense"](a)
        if len(a) == 1
        else _refuse(
            "arrayEnumerateDenseRanked: only the single-array form "
            "is supported; for a custom depth, flatten() to the "
            "target level and use arrayEnumerateDense"
        )
    ),
    # getServerPort('setting'): the CH default port per protocol
    # (instances bind dynamically; hostName() is a stable literal
    # under the same single-warm-session convention).
    "getServerPort": lambda a: (
        {
            "'tcp_port'": "CAST(9000 AS INT)",
            "'http_port'": "CAST(8123 AS INT)",
            "'postgresql_port'": "CAST(5432 AS INT)",
            "'mysql_port'": "CAST(3306 AS INT)",
        }[a[0].strip().lower()]
        if a[0].strip().lower() in (
            "'tcp_port'", "'http_port'", "'postgresql_port'",
            "'mysql_port'",
        )
        else _refuse(
            f"getServerPort: unknown port setting {a[0]!r}; "
            "tcp_port/http_port/postgresql_port/mysql_port are served"
        )
    ),
    # -- storage-encoding introspection: LowCardinality is a CH
    # column codec this engine does not materialize --
    **{
        n: (lambda nm: lambda a: (_ for _ in ()).throw(
            ValueError(
                f"{nm}() inspects the LowCardinality block "
                "dictionary, a CH storage encoding that does not "
                "exist here (columns are plain Spark values); "
                "arrayEnumerateDense over groupArray gives per-group "
                "dense indexes"
            )
        ))(n)
        for n in ("lowCardinalityIndices", "lowCardinalityKeys")
    },
    "partitionId": lambda a: (_ for _ in ()).throw(
        ValueError(
            "partitionId() formats a MergeTree partition key; "
            "storage here is directory-partitioned parquet — select "
            "the partition column (or _file) directly"
        )
    ),
    **{
        n: (lambda nm: lambda a: (_ for _ in ()).throw(
            ValueError(
                f"{nm}(): Join-engine tables are not modeled; spell "
                "the lookup as an explicit LEFT JOIN, or use "
                "dictGet over CREATE DICTIONARY"
            )
        ))(n)
        for n in ("joinGet", "joinGetOrNull")
    },
    # -- computational geometry (boost::geometry in CH) --
    **{
        n: (lambda nm: lambda a: (_ for _ in ()).throw(
            ValueError(
                f"{nm}() needs a computational-geometry library "
                "that does not ship; pointInPolygon (literal ring), "
                "greatCircleDistance and the geohash codecs are the "
                "served spatial operations"
            )
        ))(n)
        # polygonAreaCartesian / polygonPerimeterCartesian are
        # SERVED above (shoelace + edge-length ring folds) — only
        # the boost::geometry set-operation family refuses.
        for n in ("polygonAreaSpherical",
                  "polygonPerimeterSpherical",
                  "polygonsIntersectionCartesian",
                  "polygonsIntersectionSpherical",
                  "polygonsUnionCartesian", "polygonsUnionSpherical",
                  "polygonConvexHullCartesian",
                  "polygonsSymDifferenceCartesian",
                  "polygonsSymDifferenceSpherical",
                  "polygonsDistanceCartesian",
                  "polygonsDistanceSpherical",
                  "polygonsWithinCartesian", "polygonsWithinSpherical",
                  "polygonsEqualsCartesian", "svg")
    },
})


# CH JSONExtract*(json, key) → get_json_object(json, '$.key') with a
# result cast. Key arg is a string literal; nested keys may be passed
# pre-dotted ('a.b'). JSONHas → null-check on extraction.
_JSON_FUNCS = {
    "JSONExtractString": "STRING",
    "JSONExtractInt": "BIGINT",
    "JSONExtractUInt": "DECIMAL(20,0)",
    "JSONExtractFloat": "DOUBLE",
    "JSONExtractBool": "BOOLEAN",
    "JSONHas": None,
}


def _json_path(parts: list[str], fn: str) -> str:
    """(key-or-index)* → a JSONPath: quoted strings become ``.key``,
    integer literals become 1-based array indexes (CH convention;
    negative counts from the end, which JSONPath lacks — refused)."""
    path = "$"
    for p in parts:
        raw = p.strip()
        if re.fullmatch(r"-?\d+", raw):
            idx = int(raw)
            if idx == 0:
                raise ValueError(
                    f"{fn}: index 0 is invalid (CH indexes are "
                    "1-based)"
                )
            if idx < 0:
                raise ValueError(
                    f"{fn}: negative (from-the-end) indexes have no "
                    "JSONPath form; compute the length with "
                    "JSONLength() and index forward"
                )
            path += f"[{idx - 1}]"
        else:
            path += f".{_unquote(raw)}"
    return path


def _rewrite_json_funcs(sql: str) -> str:
    out = sql
    for fn, cast_to in _JSON_FUNCS.items():
        while True:
            call = _find_call(out, fn)
            if call is None:
                break
            start, end, args = call
            if len(args) < 2:
                raise ValueError(
                    f"{fn}() expects (json, key[, key_or_index...]), "
                    f"got {args}"
                )
            path = _json_path(args[1:], fn)
            expr = f"get_json_object({args[0]}, '{path}')"
            if cast_to is None:
                expr = f"({expr} IS NOT NULL)"
            elif cast_to != "STRING":
                expr = f"CAST({expr} AS {cast_to})"
            out = out[:start] + expr + out[end:]
    return out

_CAST_FUNCS = {
    "toUInt8": "SMALLINT",
    "toUInt16": "INT",
    "toUInt32": "BIGINT",
    "toUInt64": "BIGINT",
    "toInt8": "TINYINT",
    "toInt16": "SMALLINT",
    "toInt32": "INT",
    "toInt64": "BIGINT",
    "toFloat32": "FLOAT",
    "toFloat64": "DOUBLE",
    "toString": "STRING",
}

# CH settings → Spark conf (SURVEY.md §2 B18). Unknown settings are
# dropped with a note — they are tuning hints, not semantics.
_SETTINGS_MAP = {
    "max_parallel_replicas": "spark.sql.shuffle.partitions",
    "max_threads": "spark.sql.shuffle.partitions",
    "max_download_threads": "spark.hadoop.fs.s3a.threads.max",
}


_PARAM_PLACEHOLDER_RE = re.compile(
    r"\{\s*([A-Za-z_][A-Za-z0-9_]*)\s*:\s*([^{}]+?)\s*\}"
)
_PARAM_INT_RE = re.compile(r"^[+-]?\d+$")
_PARAM_FLOAT_RE = re.compile(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")
_PARAM_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)?$")
_PARAM_UUID_RE = re.compile(
    r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
    r"[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
)


def _param_sql_str(v: str) -> str:
    return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"


def _render_param(name: str, ch_type: str, raw: str) -> str:
    """One ``{name:Type}`` substitution as a safely-typed SQL literal.
    Every value is validated or quote-escaped — a parameter can never
    splice SQL (the injection-safety contract CH's own substitution
    keeps)."""
    t = ch_type.strip()
    tl = t.lower()
    while True:
        m = re.match(r"^(nullable|lowcardinality)\((.*)\)$", tl)
        if not m:
            break
        t = t[t.index("(") + 1:-1].strip()
        tl = t.lower()
    if raw is None or (tl != "string" and raw.upper() == "NULL"):
        return "NULL"
    if tl == "identifier":
        if not _PARAM_IDENT_RE.match(raw):
            raise ValueError(
                f"query parameter {{{name}:Identifier}}: {raw!r} is "
                "not a valid identifier"
            )
        return raw
    if tl.startswith("array("):
        inner = t[t.index("(") + 1:-1].strip()
        body = raw.strip()
        if not (body.startswith("[") and body.endswith("]")):
            raise ValueError(
                f"query parameter {{{name}:{ch_type}}}: expected a "
                f"[...] array literal, got {raw!r}"
            )
        elems = _split_args_top(body[1:-1])
        rendered = []
        for e in elems:
            e = e.strip()
            if not e:
                continue
            if len(e) >= 2 and e[0] == e[-1] and e[0] in "'\"":
                e = e[1:-1].replace("\\'", "'").replace("''", "'")
            rendered.append(_render_param(name, inner, e))
        return f"array({', '.join(rendered)})"
    if tl.startswith(("map(", "tuple(")):
        raise ValueError(
            f"query parameter {{{name}:{ch_type}}}: Map/Tuple "
            "parameters are not supported; pass scalar or Array "
            "parameters, or inline the literal"
        )
    if tl in ("bool", "boolean"):
        if raw.lower() in ("true", "1"):
            return "true"
        if raw.lower() in ("false", "0"):
            return "false"
        raise ValueError(
            f"query parameter {{{name}:Bool}}: {raw!r} is not a bool"
        )
    if tl.startswith(("int", "uint")):
        if not _PARAM_INT_RE.match(raw):
            raise ValueError(
                f"query parameter {{{name}:{ch_type}}}: {raw!r} is "
                "not an integer"
            )
        v = int(raw)
        if tl in ("uint64", "int128", "uint128") and v > (1 << 63) - 1:
            return f"CAST('{v}' AS DECIMAL(38, 0))"
        return f"CAST({v} AS BIGINT)"
    if tl.startswith("float") or tl.startswith("decimal"):
        if not _PARAM_FLOAT_RE.match(raw):
            raise ValueError(
                f"query parameter {{{name}:{ch_type}}}: {raw!r} is "
                "not a number"
            )
        if tl.startswith("decimal"):
            from bighouse_spark.dialect.schema import ch_type_to_spark

            return (
                f"CAST({raw} AS "
                f"{ch_type_to_spark(t).simpleString().upper()})"
            )
        return f"CAST({raw} AS DOUBLE)"
    if tl in ("date", "date32"):
        return f"CAST({_param_sql_str(raw)} AS DATE)"
    if tl.startswith(("datetime", "timestamp")):
        return f"CAST({_param_sql_str(raw)} AS TIMESTAMP)"
    if tl == "uuid":
        if not _PARAM_UUID_RE.match(raw):
            raise ValueError(
                f"query parameter {{{name}:UUID}}: {raw!r} is not a "
                "UUID"
            )
        return _param_sql_str(raw.lower())
    if tl in ("string", "fixedstring") or tl.startswith("fixedstring"):
        return _param_sql_str(raw)
    raise ValueError(
        f"query parameter {{{name}:{ch_type}}}: unsupported parameter "
        "type; supported: Int*/UInt*/Float*/Decimal/String/"
        "FixedString/Date/DateTime/UUID/Bool/Identifier/Array(T)"
    )


def substitute_parameters(sql: str, params: dict[str, str]) -> str:
    """ClickHouse query parameters: replace ``{name:Type}``
    placeholders with typed literals from ``params`` (the public
    ``param_<name>`` HTTP / ``--param`` CLI surface). Quote-aware —
    placeholders inside string literals or backtick identifiers are
    left alone, like CH. Unbound placeholders raise the guided error
    CH raises (UNKNOWN_QUERY_PARAMETER)."""
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c in "'`\"":
            q = c
            j = i + 1
            while j < n:
                if sql[j] == "\\" and q == "'":
                    j += 2
                    continue
                if sql[j] == q:
                    if j + 1 < n and sql[j + 1] == q:
                        j += 2
                        continue
                    break
                j += 1
            out.append(sql[i:j + 1])
            i = j + 1
            continue
        if c == "{":
            m = _PARAM_PLACEHOLDER_RE.match(sql, i)
            if m:
                name, ch_type = m.group(1), m.group(2)
                if name not in params:
                    raise ValueError(
                        f"query parameter {{{name}:{ch_type}}} has no "
                        f"bound value; pass it as param_{name} (HTTP) "
                        f"or --param {name}=... (CLI)"
                    )
                out.append(_render_param(name, ch_type, params[name]))
                i = m.end()
                continue
        out.append(c)
        i += 1
    return "".join(out)


@dataclass
class TranspileResult:
    sql: str
    views: list[str] = field(default_factory=list)
    settings: dict[str, str] = field(default_factory=dict)
    dropped_settings: dict[str, str] = field(default_factory=dict)


def transpile(sql: str, spark: SparkSession | None = None) -> TranspileResult:
    """Rewrite ClickHouse-dialect ``sql`` to Spark SQL.

    When ``spark`` is given, table-function sources are registered as
    temp views (``__bh_src_N``); otherwise table functions raise.
    """
    out = sql.strip().rstrip(";")
    # CH (ANSI) double-quoted strings are IDENTIFIERS; Spark's
    # default treats them as string literals, silently returning the
    # literal column name for every row. Convert to backticks first
    # so every later rewrite sees one identifier spelling.
    out = _rewrite_dollar_quoted_strings(out)
    out = _rewrite_double_quoted_identifiers(out)
    out = _rewrite_numeric_base_literals(out)
    # CH EXPLAIN flag syntax (`EXPLAIN indexes = 1, header = 0 ...`)
    # → the flags select detail CH-side; Spark's FORMATTED plan
    # carries the scan detail (PushedFilters/PartitionFilters), so
    # fold any flag list into the PLAN variant.
    out = re.sub(
        r"^(EXPLAIN)(\s+(?:SYNTAX|AST|PLAN|PIPELINE|ESTIMATE"
        r"|QUERY\s+TREE))?"
        r"\s+(?:\w+\s*=\s*\w+\s*,?\s*)+(?=SELECT|WITH)",
        lambda m: f"{m.group(1)}{m.group(2) or ' PLAN'} ",
        out,
        flags=re.IGNORECASE | re.DOTALL,
    )
    # CH EXPLAIN variants → the closest Spark EXPLAIN mode. EXPLAIN
    # SYNTAX (CH: "the query after syntax optimizations") maps to the
    # one transformation this engine owns — the dialect transpile —
    # and returns the rewritten Spark SQL as a result row. QUERY TREE
    # (CH's analyzer IR, in 23.6) maps to Spark's analyzed logical
    # plan (EXTENDED carries it) — the same compilation stage.
    ex = re.match(
        r"^EXPLAIN\s+(SYNTAX|AST|PLAN|PIPELINE|ESTIMATE"
        r"|QUERY\s+TREE)\s+(.*)$",
        out, re.IGNORECASE | re.DOTALL,
    )
    if ex:
        mode, rest = re.sub(r"\s+", " ", ex.group(1).upper()), ex.group(2)
        inner = transpile(rest, spark)
        if mode == "SYNTAX":
            lit = inner.sql.replace("'", "''")
            return TranspileResult(
                sql=f"SELECT '{lit}' AS rewritten_sql",
                views=inner.views, settings=inner.settings,
                dropped_settings=inner.dropped_settings,
            )
        spark_mode = {
            "AST": "EXTENDED", "PLAN": "FORMATTED",
            "PIPELINE": "FORMATTED", "ESTIMATE": "COST",
            "QUERY TREE": "EXTENDED",
        }[mode]
        return TranspileResult(
            sql=f"EXPLAIN {spark_mode} {inner.sql}",
            views=inner.views, settings=inner.settings,
            dropped_settings=inner.dropped_settings,
        )
    fn_ddl = _rewrite_create_function(out)
    if fn_ddl is not None:
        return TranspileResult(sql=fn_ddl)
    out, settings, dropped = _strip_settings(out)
    # exact_cityhash=1 is OUR setting (no CH analog): flip cityHash64
    # from the xxhash64 capability path to the bit-exact v1.0.2 UDF.
    exact_cityhash = str(dropped.pop("exact_cityhash", "0")).lower() in (
        "1",
        "true",
    )
    # max_funnel_group_events=N is OUR setting (no CH analog): the
    # strict_order funnel's per-group buffer cap; 0 disables.
    funnel_cap_raw = dropped.pop("max_funnel_group_events", None)
    funnel_cap: int | None = None
    if funnel_cap_raw is not None:
        try:
            funnel_cap = int(str(funnel_cap_raw).strip().strip("'\""))
        except ValueError:
            raise ValueError(
                "SETTINGS max_funnel_group_events expects an integer "
                f"(got {funnel_cap_raw!r})"
            )
    out = _strip_format(out)
    if "getSetting" in out:
        raw_settings = dict(dropped)
        if exact_cityhash:
            raw_settings["exact_cityhash"] = "1"
        if funnel_cap is not None:
            raw_settings["max_funnel_group_events"] = str(funnel_cap)
        inv = {v: k for k, v in _SETTINGS_MAP.items()}
        for sk, sv in settings.items():
            ch_name = inv.get(sk)
            if ch_name is not None:
                raw_settings[ch_name] = sv
        out = _rewrite_get_setting(out, raw_settings)
    if spark is not None and "hasColumnInTable" in out:
        out = _rewrite_has_column_in_table(out, spark)
    if spark is not None and re.search(
        r"\bCOLUMNS\s*\(|\*\s+APPLY\s*\(", out, re.IGNORECASE
    ):
        out = _rewrite_column_matchers(out, spark)
    uses_file = re.search(r"\b_file\b", out) is not None
    out, views = _rewrite_table_functions(out, spark, uses_file)
    out = _rewrite_asof_join(out, spark, views)
    out = _rewrite_ch_clauses(out)
    out = _rewrite_arrayjoin_calls(out)
    out = _rewrite_ch_misc(out)
    out = _rewrite_tuple_ops(out)
    out = _rewrite_limit_by(out)
    out = _rewrite_limit_ties(out)
    out = _rewrite_qualify(out)
    if funnel_cap is not None:
        tok = _FUNNEL_GROUP_CAP.set(funnel_cap)
        try:
            out = _rewrite_functions(out, exact_cityhash=exact_cityhash)
        finally:
            _FUNNEL_GROUP_CAP.reset(tok)
    else:
        out = _rewrite_functions(out, exact_cityhash=exact_cityhash)
    out = _rewrite_with_fill(out, spark, views)
    if spark is not None and "bh_cityhash64_row" in out:
        _ensure_cityhash_udfs(spark)
    if spark is not None and re.search(
        r"\bbh_(ipv6|is_ipv6|ipv4_to|ip_in_range)", out
    ):
        _ensure_ip_udfs(spark)
    if spark is not None and re.search(
        r"\bbh_(damerau|jaro|base58|base32|punycode|erf|erfc|lgamma|tgamma"
        r"|jumphash|kostikhash"
        r"|nfc|nfd|nfkc|nfkd|geohash|idna|lz4_ratio|t_pvalue2|f_pvalue"
        r"|anova|ks_exact|norm_ppf|spearman|detect_language"
        r"|series_period"
        r"|java_hash|hive_hash|gcc_murmur|kafka_murmur"
        r"|json_merge_patch)",
        out,
    ):
        _ensure_misc_udfs(spark)
    if spark is not None and "bh_porter_stem" in out:
        _ensure_porter_udfs(spark)
    if spark is not None:
        for k, v in settings.items():
            spark.conf.set(k, v)
    return TranspileResult(sql=out, views=views, settings=settings, dropped_settings=dropped)


# IPv6 conversions need 128-bit parsing/formatting — not expressible
# as built-in column expressions, so they run as Arrow-batched pandas
# UDFs over the stdlib ``ipaddress`` module (vectorized transfer; the
# per-value work is a tight C-accelerated parse). Registered once per
# SparkSession, lazily, only when a query actually uses them.
_IP_UDF_SESSIONS: set[int] = set()


def _pickle_udf_module_by_value(module) -> None:
    """Ship a UDF module's code INSIDE the pickled function instead of
    by import reference — see functions/_shipping.py. (The UDF modules
    self-register at import; this keeps the ensure sites explicit.)"""
    from bighouse_spark.functions._shipping import ship_by_value

    ship_by_value(module)


def _ensure_ip_udfs(spark: SparkSession) -> None:
    if id(spark) in _IP_UDF_SESSIONS:
        return
    from bighouse_spark.functions import ipfuncs

    _pickle_udf_module_by_value(ipfuncs)
    for name, fn in ipfuncs.ALL.items():
        spark.udf.register(name, fn)
    _IP_UDF_SESSIONS.add(id(spark))


# Same lazy-registration contract for the string-distance / codec /
# special-math UDFs (damerauLevenshteinDistance, jaro*, base58*,
# punycode*, erf/erfc/lgamma/tgamma).
_MISC_UDF_SESSIONS: set[int] = set()


def _ensure_misc_udfs(spark: SparkSession) -> None:
    if id(spark) in _MISC_UDF_SESSIONS:
        return
    from bighouse_spark.functions import miscfuncs

    _pickle_udf_module_by_value(miscfuncs)
    for name, fn in miscfuncs.ALL.items():
        spark.udf.register(name, fn)
    _MISC_UDF_SESSIONS.add(id(spark))


_PORTER_UDF_SESSIONS: set[int] = set()


def _ensure_porter_udfs(spark: SparkSession) -> None:
    if id(spark) in _PORTER_UDF_SESSIONS:
        return
    from bighouse_spark.functions import porter

    _pickle_udf_module_by_value(porter)
    for name, fn in porter.ALL.items():
        spark.udf.register(name, fn)
    _PORTER_UDF_SESSIONS.add(id(spark))


# Bit-exact CityHash64 v1.0.2 (the fidelity path behind
# cityHash64Exact / SETTINGS exact_cityhash=1) — lazy like the
# others, but keyed on the UTC-equivalence answer too: a later SET
# of spark.sql.session.timeZone must re-register the UDF or
# datetime hashing keeps a stale parity assumption.
_CITYHASH_UDF_SESSIONS: dict[int, bool] = {}


def _tz_is_utc_equivalent(tz: str) -> bool:
    if tz in (
        "UTC", "Etc/UTC", "GMT", "GMT0", "Etc/GMT", "Etc/GMT0",
        "Etc/GMT+0", "Etc/GMT-0", "Greenwich", "Etc/Greenwich",
        "Universal", "Etc/Universal", "Zulu", "Etc/Zulu", "UCT",
        "Etc/UCT", "+00:00", "+0000", "Z",
    ):
        return True
    try:
        import datetime as _dt
        from zoneinfo import ZoneInfo

        z = ZoneInfo(tz)
        return all(
            _dt.datetime(2024, m, 1, tzinfo=z).utcoffset()
            == _dt.timedelta(0)
            for m in (1, 7)  # winter + summer → catches DST zones
        )
    except Exception:
        return False


def _ensure_cityhash_udfs(spark: SparkSession) -> None:
    # Bit-parity guard: Arrow hands the UDF NAIVE timestamps in the
    # SESSION timezone, which the encoder interprets as UTC wall time
    # (CH stores DateTime as epoch). Under a non-UTC session the
    # registered variant REFUSES datetime arguments (loudly, with
    # the fix) while timezone-independent strings/ints keep parity.
    # The timezone is re-read on EVERY transpile that reaches here:
    # SET spark.sql.session.timeZone mid-session flips the answer
    # and must re-register the UDF (stale-parity fix, ADVICE r6).
    tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
    allow_dt = _tz_is_utc_equivalent(tz)
    if _CITYHASH_UDF_SESSIONS.get(id(spark)) == allow_dt:
        return
    from bighouse_spark.functions import cityhash

    _pickle_udf_module_by_value(cityhash)
    fn = cityhash.make_cityhash64_row_udf(allow_datetime=allow_dt)
    spark.udf.register("bh_cityhash64_row", fn)
    _CITYHASH_UDF_SESSIONS[id(spark)] = allow_dt


def _split_args_top(s: str) -> list[str]:
    """Split on top-level commas (quotes and (), [] respected)."""
    parts, cur, depth, quote = [], [], 0, None
    for c in s:
        if quote:
            cur.append(c)
            if c == quote:
                quote = None
        elif c in "'\"":
            quote = c
            cur.append(c)
        elif c in "([":
            depth += 1
            cur.append(c)
        elif c in ")]":
            depth -= 1
            cur.append(c)
        elif c == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(c)
    if cur:
        parts.append("".join(cur).strip())
    return parts


_QUOTED_SPAN = re.compile(
    r"('(?:[^']|'')*'|`[^`]*`|\"(?:[^\"]|\"\")*\")"
)

_NAN_INF = re.compile(
    r"(?<![\w.])(nan|inf)(?![\w.(])", re.IGNORECASE
)

# CH accepts a parenthesized single lambda parameter ((x) -> ...);
# Spark's grammar requires the bare form for one parameter.
_PAREN_LAMBDA = re.compile(r"\(\s*([A-Za-z_]\w*)\s*\)\s*->")


def _sub_unquoted(sql: str, fn) -> str:
    """Apply ``fn`` to the segments of ``sql`` outside string /
    backtick / double-quote spans."""
    parts = _QUOTED_SPAN.split(sql)
    return "".join(
        p if i % 2 else fn(p) for i, p in enumerate(parts)
    )


def _sub_outside_quotes(pattern, repl, sql: str, flags=0) -> str:
    """re.sub over the whole statement, but drop matches that START
    inside a quoted span. Unlike :func:`_sub_unquoted` the match
    itself may legitimately CONTAIN a quoted span (e.g. a string
    argument inside ``INTERVAL toUInt8('3') DAY``) — only matches
    that begin inside a string literal are left alone."""
    quoted = [m.span() for m in _QUOTED_SPAN.finditer(sql)]

    def guarded(m: re.Match):
        s = m.start()
        if any(a <= s < b for a, b in quoted):
            return m.group(0)
        return repl(m) if callable(repl) else m.expand(repl)

    return re.sub(pattern, guarded, sql, flags=flags)


def _rewrite_token_spellings(sql: str) -> str:
    """Token-level CH spellings, applied outside quoted spans:

    * bare ``nan`` / ``inf`` Float64 literals → Spark casts. An
      identifier position right after AS is left alone — a column
      aliased ``inf`` keeps its name while ``x != inf`` compares
      against infinity; ``-inf`` works through the unary minus.
      A statement that BOTH aliases a column ``nan``/``inf`` AND
      uses the bare token elsewhere is ambiguous (the later
      reference would silently become a constant) and is refused
      with a rename hint — backtick-quote the identifier to keep it.
    * ``(x) ->`` single-parameter lambdas → ``x ->`` (CH accepts the
      parenthesized form; Spark's grammar does not).
    """

    # Alias-collision guard: `SELECT x AS inf ... ORDER BY inf`
    # would turn the second `inf` into Infinity. Refuse up front.
    unquoted_all = "".join(
        p for i, p in enumerate(_QUOTED_SPAN.split(sql)) if i % 2 == 0
    )
    for tok in ("nan", "inf"):
        aliased = re.search(
            rf"(?i)(?:^|[^\w.])as\s+{tok}(?![\w.])", unquoted_all
        )
        if aliased:
            bare = [
                m
                for m in re.finditer(
                    rf"(?i)(?<![\w.]){tok}(?![\w.(])", unquoted_all
                )
                if not re.search(
                    r"(?i)(?:^|[^\w.])as$",
                    unquoted_all[: m.start()].rstrip(),
                )
            ]
            if bare:
                raise ValueError(
                    f"a column is aliased `{tok}` and the bare token "
                    f"`{tok}` also appears elsewhere in the statement; "
                    f"bare {tok} is the CH Float64 literal, so the "
                    "later reference would silently become a constant "
                    f"— rename the alias or backtick-quote it (`{tok}`)"
                )

    def repl(m: re.Match) -> str:
        left = m.string[: m.start()].rstrip()
        if re.search(r"(?i)(?:^|[^\w.])as$", left):
            return m.group(0)
        return (
            "CAST('NaN' AS DOUBLE)"
            if m.group(1).lower() == "nan"
            else "CAST('Infinity' AS DOUBLE)"
        )

    return _sub_unquoted(
        sql,
        lambda p: _PAREN_LAMBDA.sub(r"\1 ->", _NAN_INF.sub(repl, p)),
    )


def _rewrite_ch_misc(sql: str) -> str:
    """CH statement-level spellings with exact Spark equivalents:

    * ``CAST(x, 'Type')`` → ``CAST(x AS <spark type>)`` (CH's
      two-argument cast with a type string).
    * ``LIMIT o, n`` → ``LIMIT n OFFSET o`` (MySQL-style offset).
    * ``SELECT DISTINCT ON (k) ...`` → ``... LIMIT 1 BY k`` — CH
      documents DISTINCT ON as equivalent to LIMIT 1 BY, and the
      LIMIT BY rewrite (deterministic, ORDER-BY-required) already
      exists.
    * ``ALL JOIN`` strictness keyword erased (ALL is CH's default
      multiplicity — identical to a plain join).
    * ``ANY [LEFT|INNER] JOIN rhs USING (k)``: rhs deduplicated to
      one row per key first (row_number window + ``* EXCEPT``), which
      is CH's at-most-one-match semantics. ``ANY ... ON`` raises with
      that spelling (the join key isn't recoverable from arbitrary ON
      expressions).
    * ``* REPLACE (expr AS col)`` → ``* EXCEPT (col), expr AS col``
      (same contents; the replaced column moves to the end — CH keeps
      its position, noted deviation).
    * scalar ``WITH expr AS name`` aliases inlined (CTE form
      ``WITH name AS (SELECT ...)`` is standard SQL and untouched).
    """
    out = _rewrite_token_spellings(sql)
    # ANSI OFFSET n ROWS / FETCH {FIRST|NEXT} m ROWS {ONLY|WITH TIES}
    # (CH supports both spellings) → LIMIT/OFFSET here, BEFORE the
    # LIMIT BY / WITH TIES rewriters consume the LIMIT forms.
    def _fetch(m: re.Match) -> str:
        off = m.group("off")
        cnt = m.group("cnt")
        ties = m.group("ties") is not None
        if ties and off:
            raise ValueError(
                "FETCH ... WITH TIES combined with OFFSET is not "
                "transpiled; spell the window filter explicitly "
                "(rank() OVER (ORDER BY ...))"
            )
        lim = f"LIMIT {cnt} WITH TIES" if ties else f"LIMIT {cnt}"
        return f"{lim} OFFSET {off}" if off else lim

    def _fetch_seg(seg: str) -> str:
        seg = re.sub(
            r"(?:\bOFFSET\s+(?P<off>\d+)\s+ROWS?\s+)?"
            r"\bFETCH\s+(?:FIRST|NEXT)\s+(?P<cnt>\d+)\s+ROWS?\s+"
            r"(?:ONLY|(?P<ties>WITH\s+TIES))",
            _fetch,
            seg,
            flags=re.IGNORECASE,
        )
        return re.sub(
            r"\bOFFSET\s+(\d+)\s+ROWS?\b", r"OFFSET \1", seg,
            flags=re.IGNORECASE,
        )

    # _sub_unquoted so the spelling inside a string literal survives
    # (SELECT 'use OFFSET 5 ROWS FETCH NEXT 3 ROWS ONLY here' must
    # keep its text verbatim).
    out = _sub_unquoted(out, _fetch_seg)

    def _misc_seg(seg: str) -> str:
        # CH `GROUP BY ()` (one global group, empty on empty input)
        # → Spark's empty grouping set; Spark's grammar rejects the
        # bare `()`.
        seg = re.sub(
            r"\bGROUP\s+BY\s*\(\s*\)",
            "GROUP BY GROUPING SETS (())",
            seg,
            flags=re.IGNORECASE,
        )
        # CH's unparenthesized single-column `* EXCEPT col` (the
        # parenthesized list form is Spark-native). Keyword guard so
        # the set operator `... EXCEPT SELECT ...` is untouched.
        seg = re.sub(
            r"(\*\s+EXCEPT)\s+(?!\()(?!(?:SELECT|ALL|DISTINCT)\b)"
            r"([A-Za-z_]\w*)",
            r"\1 (\2)",
            seg,
            flags=re.IGNORECASE,
        )
        # CH tuple element access `.N` (1-based) → Spark's unnamed
        # struct fields `colN`: `tuple(1,'a').2` / `t.1`. A dot-digit
        # whose preceding token STARTS with a digit is a numeric
        # literal (1.5, 1e2.—) and is left alone; `)`/`]` before the
        # dot is always an expression result.
        def _dot_n(m: re.Match) -> str:
            if m.group(1) not in ")]":
                i = m.start(1)
                while i >= 0 and (seg[i].isalnum() or seg[i] == "_"):
                    i -= 1
                if seg[i + 1].isdigit():
                    return m.group(0)
            return f"{m.group(1)}.col{m.group(2)}"

        # Iterate to fixpoint: nested access (t.1.1) needs the inner
        # rewrite (t.col1) in place before the next level's preceding
        # token stops looking like a numeric literal.
        while True:
            new_seg = re.sub(r"([\)\]\w])\.(\d+)(?!\w)", _dot_n, seg)
            if new_seg == seg:
                break
            seg = new_seg
        # CH numeric-literal predicates (`WHERE 1`): Spark's ANSI
        # filter wants a boolean. Bare integer literals only — a
        # general numeric expression can't be re-typed blindly.
        return re.sub(
            r"\b(WHERE|HAVING)\s+(\d+)"
            r"(?=\s*(?:$|GROUP\b|ORDER\b|LIMIT\b|HAVING\b|"
            r"SETTINGS\b|FORMAT\b|UNION\b|EXCEPT\b|INTERSECT\b|\)))",
            r"\1 (\2 <> 0)",
            seg,
            flags=re.IGNORECASE,
        )

    out = _sub_unquoted(out, _misc_seg)
    def _paste_guard(seg: str) -> str:
        if re.search(r"\bPASTE\s+JOIN\b", seg, re.IGNORECASE):
            raise ValueError(
                "PASTE JOIN ships in ClickHouse >= 24.2, newer than "
                "the reference's pinned CH 23.6 — and positional "
                "pairing is block-order dependent; spell the "
                "deterministic join with row_number() OVER "
                "(ORDER BY <key>) on both sides"
            )
        return seg

    _sub_unquoted(out, _paste_guard)  # raise-only; output unused
    # -- CAST(x, 'Type') -------------------------------------------
    pos = 0
    while True:
        found = _find_call(out, "CAST", pos)
        if found is None:
            break
        start, end, args = found
        if len(args) == 2 and re.fullmatch(r"'[^']*'", args[1].strip()):
            from bighouse_spark.dialect.schema import ch_type_to_spark

            spark_t = ch_type_to_spark(_unquote(args[1])).simpleString()
            out = f"{out[:start]}CAST({args[0]} AS {spark_t}){out[end:]}"
            pos = start + 1
        else:
            pos = start + 5  # standard CAST(x AS t) — skip past it
    # -- LIMIT o, n (quote-shielded) -------------------------------
    out = _sub_outside_quotes(
        r"\bLIMIT\s+(\d+)\s*,\s*(\d+)", r"LIMIT \2 OFFSET \1", out,
        flags=re.IGNORECASE,
    )
    # -- DISTINCT ON (k, ...) (masked locate) ----------------------
    m = re.search(r"\bDISTINCT\s+ON\s*\(", _mask_quoted_spans(out),
                  re.IGNORECASE)
    if m:
        depth, j = 1, m.end()
        while j < len(out) and depth:
            depth += out[j] == "("
            depth -= out[j] == ")"
            j += 1
        keys = out[m.end():j - 1].strip()
        body = out[:m.start()] + out[j:]
        tail = re.search(r"\s+LIMIT\s+\d+(\s+OFFSET\s+\d+)?\s*$", body,
                         re.IGNORECASE)
        if tail:
            body = (
                body[:tail.start()] + f" LIMIT 1 BY {keys}" + body[tail.start():]
            )
        else:
            body = body + f" LIMIT 1 BY {keys}"
        out = body
    # -- join strictness -------------------------------------------
    # CH's canonical order puts strictness FIRST (SEMI LEFT JOIN,
    # ANTI LEFT JOIN); Spark wants LEFT SEMI/ANTI. RIGHT-sided
    # semi/anti have no Spark twin — refuse with the swap spelling.
    # All quote-shielded: a literal 'SEMI RIGHT JOIN' / 'join USING
    # id' keeps its spelling (r12 shipped these over the raw text —
    # the same bug class _sub_unquoted exists for).
    if re.search(r"\b(SEMI|ANTI)\s+RIGHT\s+JOIN\b",
                 _mask_quoted_spans(out), re.IGNORECASE):
        raise ValueError(
            "SEMI/ANTI RIGHT JOIN keeps right-table rows, which "
            "Spark joins cannot spell directly; swap the tables and "
            "use SEMI/ANTI LEFT JOIN"
        )
    out = _sub_outside_quotes(
        r"\b(SEMI|ANTI)\s+LEFT\s+(?:OUTER\s+)?JOIN\b",
        lambda m: f"LEFT {m.group(1).upper()} JOIN",
        out, flags=re.IGNORECASE,
    )
    # CH allows an unparenthesized USING list (`USING k1, k2`);
    # Spark's grammar requires the parens.
    out = _sub_outside_quotes(
        r"\bUSING\s+(?!\()"
        r"([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)",
        lambda m: f"USING ({m.group(1)})",
        out, flags=re.IGNORECASE,
    )
    out = _sub_outside_quotes(
        r"\bALL\s+((?:LEFT|RIGHT|INNER|FULL)\s+(?:OUTER\s+)?JOIN|JOIN)\b",
        lambda m: m.group(1),
        out, flags=re.IGNORECASE,
    )
    any_m = re.search(
        r"\bANY\s+((?:LEFT|RIGHT|INNER)\s+)?JOIN\s+",
        _mask_quoted_spans(out), re.IGNORECASE
    )
    if any_m:
        rest = out[any_m.end():]
        rhs_m = re.match(
            r"(\(.*?\)|[\w.]+)(\s+(?:AS\s+)?(\w+))?\s+USING\s*\(([^)]+)\)",
            rest, re.IGNORECASE | re.DOTALL,
        )
        if rhs_m is None:
            raise ValueError(
                "ANY JOIN is supported with USING (...); for ON-joins "
                "deduplicate the right side explicitly (LIMIT 1 BY key)"
            )
        rhs, alias_clause, alias, keys = rhs_m.groups()
        first_key = keys.split(",")[0].strip()
        dedup = (
            f"(SELECT * EXCEPT (__bh_any) FROM (SELECT *, row_number() "
            f"OVER (PARTITION BY {keys} ORDER BY {first_key}) AS __bh_any "
            f"FROM {rhs}) WHERE __bh_any = 1)"
        )
        join_kw = (any_m.group(1) or "") + "JOIN "
        out = (
            out[:any_m.start()] + join_kw + dedup
            + (alias_clause or "") + f" USING ({keys})"
            + rest[rhs_m.end():]
        )
    # -- * REPLACE (expr AS col, ...) ------------------------------
    m = re.search(r"\*\s+REPLACE\s*\(", out, re.IGNORECASE)
    if m:
        depth, j = 1, m.end()
        quote = None
        while j < len(out) and depth:
            c = out[j]
            if quote:
                quote = None if c == quote else quote
            elif c in "'\"":
                quote = c
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            j += 1
        items = _split_args_top(out[m.end():j - 1])
        names, exprs = [], []
        for it in items:
            em = re.match(r"(.+)\s+AS\s+(\w+)\s*$", it, re.IGNORECASE | re.DOTALL)
            if em is None:
                raise ValueError(f"* REPLACE item must be 'expr AS col': {it!r}")
            exprs.append(f"{em.group(1).strip()} AS {em.group(2)}")
            names.append(em.group(2))
        out = (
            out[:m.start()]
            + f"* EXCEPT ({', '.join(names)}), {', '.join(exprs)}"
            + out[j:]
        )
    # -- scalar WITH aliases ---------------------------------------
    m = re.match(r"^\s*WITH\s+(.+?)\s+(SELECT\b.*)$", out,
                 re.IGNORECASE | re.DOTALL)
    if m:
        items = _split_args_top(m.group(1))
        scalars: list[tuple[str, str]] = []
        is_scalar_form = True
        for it in items:
            em = re.match(r"(.+)\s+AS\s+([A-Za-z_]\w*)\s*$", it,
                          re.IGNORECASE | re.DOTALL)
            if em is None or re.match(r"^[A-Za-z_]\w*\s+AS\s*\(", it,
                                      re.IGNORECASE):
                is_scalar_form = False  # standard CTE — leave alone
                break
            scalars.append((em.group(2), em.group(1).strip()))
        if is_scalar_form and scalars:
            body = m.group(2)
            for name, expr in scalars:
                # Quote-aware substitution: an alias inside a string
                # literal is data, not a reference.
                pat = re.compile(rf"\b{re.escape(name)}\b")
                parts = re.split(r"('(?:[^']|'')*')", body)
                body = "".join(
                    p if i % 2 else pat.sub(f"({expr})", p)
                    for i, p in enumerate(parts)
                )
            out = body
    return out


_GET_SETTING_RE = re.compile(
    r"\bgetSetting\s*\(\s*'([^']+)'\s*\)"
)


def _rewrite_get_setting(out: str, raw: dict[str, str]) -> str:
    """getSetting('name') → the literal value the query (or the
    wire session, which merges its SET state into the SETTINGS
    clause) assigned — numerics inline, everything else as a string
    literal. A name never SET falls through to the guided error
    (CH would return the server default; this engine's defaults
    live in the system_settings view)."""

    def sub(m: "re.Match[str]") -> str:
        name = m.group(1)
        if name in raw:
            v = raw[name]
            if re.fullmatch(r"-?\d+(\.\d+)?", v):
                return v
            # The SETTINGS parser strips the outer quotes but keeps
            # the '' escape — collapse it before re-escaping.
            v = v.replace("''", "'")
            return "'" + v.replace("'", "''") + "'"
        return m.group(0)

    return _GET_SETTING_RE.sub(sub, out)


def _settings_spans(sql: str) -> list[tuple[int, int]]:
    """(start, end) of every SETTINGS clause, quote- and paren-aware:
    a top-level clause runs to end-of-statement, a subquery-level one
    stops at the ``)`` that closes its subquery — the old ``(.+)$``
    regex swallowed that paren into the last value AND stripped the
    rest of the outer query."""
    spans: list[tuple[int, int]] = []
    low = sql.lower()
    quote: str | None = None
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if quote:
            if c == quote:
                quote = None
            i += 1
            continue
        if c in "'\"":
            quote = c
            i += 1
            continue
        if (
            low.startswith("settings", i)
            and (i == 0 or not (low[i - 1].isalnum() or low[i - 1] == "_"))
            and (
                i + 8 >= n
                or not (low[i + 8].isalnum() or low[i + 8] == "_")
            )
        ):
            j, d, q = i + 8, 0, None
            while j < n:
                cj = sql[j]
                if q:
                    q = None if cj == q else q
                elif cj in "'\"":
                    q = cj
                elif cj == "(":
                    d += 1
                elif cj == ")":
                    if d == 0:
                        break  # closes the enclosing subquery
                    d -= 1
                j += 1
            spans.append((i, j))
            i = j
            continue
        i += 1
    return spans


def _strip_settings(sql: str) -> tuple[str, dict[str, str], dict[str, str]]:
    spans = _settings_spans(sql)
    if not spans:
        return sql, {}, {}
    mapped: dict[str, str] = {}
    dropped: dict[str, str] = {}
    spans2: list[tuple[int, int]] = []
    for start, end in spans:
        # CH grammar puts FORMAT after SETTINGS — keep it in the SQL
        # instead of leaking it into the last setting's value
        fm = re.search(
            r"\s+FORMAT\s+\w+\s*$", sql[start + 8:end], re.IGNORECASE
        )
        if fm:
            end = start + 8 + fm.start()
        spans2.append((start, end))
    spans = spans2
    for start, end in spans:
        for pair in sql[start + 8:end].split(","):
            k, _, v = pair.partition("=")
            k, v = k.strip(), v.strip().strip("'\"")
            if not k:
                continue
            if k in _SETTINGS_MAP:
                mapped[_SETTINGS_MAP[k]] = v
            else:
                dropped[k] = v
    out = sql
    for start, end in reversed(spans):
        out = out[:start].rstrip() + " " + out[end:].lstrip() \
            if end < len(out) else out[:start].rstrip()
    return out, mapped, dropped


# CH forms: LIMIT n BY k | LIMIT off, n BY k | LIMIT n OFFSET off BY k
_LIMIT_BY_RE = re.compile(
    r"\bLIMIT\s+(?:"
    r"(?P<off1>\d+)\s*,\s*(?P<n1>\d+)"
    r"|(?P<n2>\d+)(?:\s+OFFSET\s+(?P<off2>\d+))?"
    # keys group anchored DIRECTLY after BY (leading whitespace
    # inside the group): on a masked copy a quoted identifier is all
    # blanks, and a greedy \s+ before the group would swallow it,
    # shifting the group start past the identifier (round-14 fix).
    # Callers compute the true keys span themselves and slice raw.
    r")\s+BY(?P<keys>\s+.+?)(?=\s+LIMIT\s+\d+\s*$|\s*$)",
    re.IGNORECASE | re.DOTALL,
)


_AJ_TERMINATORS = (
    "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", "SETTINGS", "UNION",
    "EXCEPT", "INTERSECT", "FORMAT", "WINDOW", "QUALIFY",
)


def _qualify_toplevel(seg: str, pat: re.Pattern, name: str) -> str:
    """Rewrite ``pat`` matches to ``__aj.<name>`` in ``seg`` —
    everywhere EXCEPT inside string/backtick literals and inside
    parenthesized SUBQUERIES (``(SELECT ...)`` / ``(WITH ...)``),
    which keep their own name scopes. Function-call argument parens
    (``sum(arr)``) ARE substituted: those references see the
    ARRAY JOIN element like any other outer-query expression."""
    out: list[str] = []
    buf: list[str] = []
    i, n = 0, len(seg)

    def flush() -> None:
        if buf:
            txt = "".join(buf)

            def _sub(m: re.Match) -> str:
                # An alias TARGET (`... AS arr`) defines a new name;
                # qualifying it would emit `AS __aj.arr` — a syntax
                # error, not a reference to the exploded element.
                if re.search(r"(?i)\bAS\s*$", txt[: m.start()]):
                    return m.group(0)
                return f"__aj.{name}"

            out.append(pat.sub(_sub, txt))
            buf.clear()

    def skip_quoted(j: int) -> int:
        q = seg[j]
        k = j + 1
        while k < n:
            if seg[k] == q:
                return k + 1
            k += 1
        return n

    def skip_balanced(j: int) -> int:
        # j points at '('; returns index past the matching ')'.
        depth = 0
        k = j
        while k < n:
            c = seg[k]
            if c in "'\"`":
                k = skip_quoted(k)
                continue
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    return k + 1
            k += 1
        return n

    while i < n:
        c = seg[i]
        if c in "'\"`":
            j = skip_quoted(i)
            flush()
            out.append(seg[i:j])
            i = j
            continue
        if c == "(":
            if re.match(r"\(\s*(SELECT|WITH)\b", seg[i:], re.IGNORECASE):
                j = skip_balanced(i)
                flush()
                out.append(seg[i:j])
                i = j
                continue
            buf.append(c)
            i += 1
            continue
        buf.append(c)
        i += 1
    flush()
    return "".join(out)


_AJ_CALL_PAT = re.compile(r"(?<![\w.])arrayJoin\s*\(")
_AJ_CLAUSE_KW = (
    r"\b(WHERE|PREWHERE|GROUP\s+BY|HAVING|WINDOW|QUALIFY|"
    r"ORDER\s+BY|LIMIT|OFFSET|SETTINGS|FORMAT)\b"
)


def _paren_depths(s: str) -> tuple[list[int], list[int]]:
    """Per-index (all-paren depth, subquery-paren depth) for a
    string whose quoted spans are already masked. Subquery parens
    are those opening ``(SELECT``/``(WITH`` — an arrayJoin inside
    one belongs to that scope, not this statement's."""
    stack: list[bool] = []
    depth = [0] * (len(s) + 1)
    sub = [0] * (len(s) + 1)
    cur_sub = 0
    for i, c in enumerate(s):
        depth[i] = len(stack)
        sub[i] = cur_sub
        if c == "(":
            is_sub = bool(re.match(
                r"\(\s*(SELECT|WITH)\b", s[i:], re.IGNORECASE
            ))
            stack.append(is_sub)
            if is_sub:
                cur_sub += 1
        elif c == ")" and stack:
            if stack.pop():
                cur_sub -= 1
    depth[len(s)] = len(stack)
    sub[len(s)] = cur_sub
    return depth, sub


def _rewrite_arrayjoin_calls(sql: str) -> str:
    """CH ``arrayJoin(expr)`` beyond the bare select item: Spark's
    explode is a generator (one per query, top-level select item
    only), so calls nested in expressions (``arrayJoin(a) +
    arrayJoin(b)``), combined with GROUP BY, or appearing several
    times are hoisted into LATERAL VIEWs and substituted by their
    output columns. IDENTICAL argument texts share one view — CH
    expands them in lockstep; distinct arguments chain views — CH's
    cartesian. A single bare select-item call without GROUP BY keeps
    the plain explode path (stable plans). Only this statement's own
    calls are hoisted; a call inside a subquery belongs to that
    scope and is left alone."""
    if "arrayJoin" not in sql:
        return sql
    s = _mask_quoted_spans(sql)
    depth, sub = _paren_depths(s)

    calls: list[tuple[int, int, int]] = []
    for m in _AJ_CALL_PAT.finditer(s):
        if sub[m.start()] != 0:
            continue
        j, d = m.end(), 1
        while j < len(s) and d:
            if s[j] == "(":
                d += 1
            elif s[j] == ")":
                d -= 1
            j += 1
        calls.append((m.start(), m.end(), j))
    if not calls:
        return sql

    def _depth0(pat: str, from_pos: int = 0):
        for km in re.finditer(pat, s, re.IGNORECASE):
            if km.start() >= from_pos and depth[km.start()] == 0:
                return km
        return None

    has_group_by = _depth0(r"\bGROUP\s+BY\b") is not None
    if len(calls) == 1 and not has_group_by:
        st, _, en = calls[0]
        before_ok = re.search(
            r"(?:\bSELECT(?:\s+DISTINCT)?|,)\s*$", s[:st],
            re.IGNORECASE,
        )
        after_ok = re.match(
            r"\s*(?:AS\s+\w+\s*)?"
            r"(?:,|\bFROM\b|\bORDER\b|\bLIMIT\b|\bOFFSET\b|"
            r"\bSETTINGS\b|\bFORMAT\b|$)",
            s[en:],
            re.IGNORECASE,
        )
        if before_ok and after_ok:
            return sql
    if _depth0(r"\b(UNION|EXCEPT|INTERSECT)\b"):
        raise ValueError(
            "arrayJoin() needing generator hoisting is not supported "
            "across a top-level set operation; apply it inside each "
            "branch's own subquery (or use the ARRAY JOIN clause)"
        )

    var_of: dict[str, int] = {}
    args_in_order: list[str] = []
    for st, op, en in calls:
        key = re.sub(r"\s+", " ", sql[op:en - 1].strip())
        if key not in var_of:
            var_of[key] = len(var_of)
            args_in_order.append(sql[op:en - 1])
    out = sql
    for st, op, en in reversed(calls):
        key = re.sub(r"\s+", " ", sql[op:en - 1].strip())
        out = out[:st] + f"__ajc{var_of[key]}" + out[en:]
    lateral = " ".join(
        f"LATERAL VIEW explode({arg}) __ajct{i} AS __ajc{i}"
        for i, arg in enumerate(args_in_order)
    )

    s2 = _mask_quoted_spans(out)
    depth2, _ = _paren_depths(s2)

    def _depth0_in(pat: str, from_pos: int = 0):
        for km in re.finditer(pat, s2, re.IGNORECASE):
            if km.start() >= from_pos and depth2[km.start()] == 0:
                return km
        return None

    m_from = _depth0_in(r"\bFROM\b")
    if m_from:
        m_kw = _depth0_in(_AJ_CLAUSE_KW, m_from.end())
        at = m_kw.start() if m_kw else len(out)
        return out[:at].rstrip() + f" {lateral} " + out[at:]
    m_kw = _depth0_in(_AJ_CLAUSE_KW)
    at = m_kw.start() if m_kw else len(out)
    return (
        out[:at].rstrip()
        + f" FROM (SELECT 1) __ajc_dual {lateral} "
        + out[at:]
    )


def _rewrite_array_join_clause(sql: str) -> str:
    """CH ``[LEFT] ARRAY JOIN arr [AS elem]`` clause → Spark
    ``LATERAL VIEW explode[_outer](arr) __aj AS elem``.

    LEFT ARRAY JOIN keeps rows with empty arrays (element NULL) —
    explode_outer's semantics exactly. Without AS, CH exposes the
    element under the array's own name, SHADOWING the source column;
    top-level bare references are qualified to the lateral-view
    output so Spark doesn't report the ambiguity. Multiple lockstep
    arrays (``ARRAY JOIN a, b``) are not transpiled — raise with the
    arrays_zip spelling instead of silently cartesian-ing.
    """
    out = sql
    while True:
        # masked locate: 'ARRAY JOIN arr' inside a literal is data
        m = re.search(
            r"\b(LEFT\s+)?ARRAY\s+JOIN\s+", _mask_quoted_spans(out),
            re.IGNORECASE
        )
        if m is None:
            return out
        fn = "explode_outer" if m.group(1) else "explode"
        # Scan the clause body: up to the next top-level terminator.
        i, depth, brackets, quote = m.end(), 0, 0, None
        parts, cur = [], []
        while i < len(out):
            c = out[i]
            if quote:
                cur.append(c)
                if c == quote:
                    quote = None
            elif c in "'\"":
                quote = c
                cur.append(c)
            elif c in "([":
                depth += 1
                cur.append(c)
            elif c in ")]":
                if depth == 0:
                    break  # closing a subquery that contains us
                depth -= 1
                cur.append(c)
            elif c == "," and depth == 0:
                parts.append("".join(cur).strip())
                cur = []
            else:
                if depth == 0 and c.isalpha():
                    word = re.match(r"[A-Za-z_]+", out[i:]).group(0)
                    if word.upper() in _AJ_TERMINATORS:
                        break
                    cur.append(word)
                    i += len(word)
                    continue
                cur.append(c)
            i += 1
        if cur:
            parts.append("".join(cur).strip())
        if len(parts) != 1 or not parts[0]:
            raise ValueError(
                "ARRAY JOIN with multiple lockstep arrays is not "
                "transpiled; zip them first: ARRAY JOIN "
                "arrayZip(a, b) AS ab, then ab.a / ab.b"
            )
        body = parts[0]
        am = re.search(r"\s+AS\s+(\w+)\s*$", body, re.IGNORECASE)
        prefix, suffix = out[: m.start()], out[i:]
        if am:
            arr, alias = body[: am.start()].strip(), am.group(1)
        else:
            arr = body
            alias = re.sub(r"\W", "_", arr.strip())
            if re.fullmatch(r"[A-Za-z_]\w*", arr.strip()):
                # CH's canonical un-aliased form SHADOWS the source
                # column: `SELECT arr FROM t ARRAY JOIN arr` yields
                # the exploded ELEMENT. Spark would report the
                # name as ambiguous (base column vs lateral-view
                # output), so qualify the statement's TOP-LEVEL bare
                # references to the lateral view's output. Depth-0
                # only: parenthesized spans (the FROM subquery that
                # defines the array, nested selects) keep their own
                # scopes. The explode argument itself resolves
                # against the base relation only.
                name = arr.strip()
                qual = re.compile(rf"(?<![\w.`]){name}(?![\w(])")
                prefix = _qualify_toplevel(prefix, qual, name)
                suffix = _qualify_toplevel(suffix, qual, name)
        repl = f" LATERAL VIEW {fn}({arr}) __aj AS {alias} "
        out = prefix + repl + suffix


def _rewrite_limit_by(sql: str) -> str:
    """CH ``LIMIT n BY k1, k2`` → windowed row_number filter.

    Keeps the first n rows per key group *in the query's ORDER BY
    order* (ORDER BY required — without one CH's pick is arbitrary and
    a distributed engine cannot reproduce it deterministically). A
    trailing ``LIMIT m`` (applied after LIMIT BY, CH semantics) is
    preserved outside the wrapper.
    """
    # masked locate: 'LIMIT 5 BY k' inside a literal is data
    masked = _mask_quoted_spans(sql)
    m = _LIMIT_BY_RE.search(masked)
    if not m:
        return sql
    n = m.group("n1") or m.group("n2")
    off = int(m.group("off1") or m.group("off2") or 0)
    # The keys run from the group start to the optional trailing
    # LIMIT m (located on the masked text), then slice the RAW text:
    # the lazy keys group itself collapses on masked spans (a quoted
    # identifier like `user id` or a literal arg like concat(k,'-x')
    # masks to blanks, which used to blank the emitted keys — ADVICE
    # r13, verified corruption).
    trail = re.search(
        r"\s+LIMIT\s+\d+\s*$", masked[m.start("keys"):], re.IGNORECASE
    )
    keys_end = (
        m.start("keys") + trail.start() if trail else len(sql)
    )
    keys = sql[m.start("keys"):keys_end].strip()
    head = sql[: m.start()].rstrip()
    tail = sql[keys_end:].strip()  # optional trailing LIMIT m
    # The ORDER BY must sit at the SAME query level as LIMIT BY: a
    # depth-0 scan, not re.search — an ORDER BY inside a FROM
    # subquery previously matched with its trailing ')' and emitted
    # unbalanced SQL (round-11 fix).
    order_at = None
    depth, quote = 0, None
    for i, c in enumerate(head):
        if quote:
            quote = None if c == quote else quote
        elif c in "'\"`":
            quote = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif (
            depth == 0
            and c in "oO"
            and (i == 0 or not (head[i - 1].isalnum()
                                or head[i - 1] == "_"))
        ):
            om = re.match(r"ORDER\s+BY\s+", head[i:], re.IGNORECASE)
            if om:
                order_at = (i, i + om.end())
    if order_at is None:
        raise ValueError(
            "LIMIT BY requires an ORDER BY at the same query level "
            "for deterministic semantics (an ORDER BY inside a FROM "
            "subquery does not survive the outer exchange)"
        )
    order = head[order_at[1]:].strip()
    inner = head
    cond = (
        f"__rn_lb > {off} AND __rn_lb <= {off + int(n)}"
        if off
        else f"__rn_lb <= {n}"
    )
    out = (
        f"SELECT * EXCEPT (__rn_lb) FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY {keys} ORDER BY {order}) AS __rn_lb FROM "
        f"({inner})) WHERE {cond}"
    )
    if tail:
        out += f" ORDER BY {order} {tail}"
    return out


def _strip_format(sql: str) -> str:
    return re.sub(r"\bFORMAT\s+\w+\s*$", "", sql, flags=re.IGNORECASE).rstrip()


_CREATE_FN_RE = re.compile(
    r"^\s*CREATE\s+FUNCTION\s+(\w+)\s+AS\s*\(([^)]*)\)\s*->\s*(.+)$",
    re.IGNORECASE | re.DOTALL,
)

# CH type names usable in CREATE FUNCTION parameter lists.
_PARAM_TYPES = {
    "int8": "TINYINT", "int16": "SMALLINT", "int32": "INT",
    "int64": "BIGINT", "uint8": "SMALLINT", "uint16": "INT",
    "uint32": "BIGINT", "uint64": "BIGINT", "float32": "FLOAT",
    "float64": "DOUBLE", "string": "STRING", "date": "DATE",
    "datetime": "TIMESTAMP", "bool": "BOOLEAN",
}


def _rewrite_create_function(sql: str) -> str | None:
    """CH SQL-lambda UDFs (the ``CREATE FUNCTION name AS (args) ->
    expr`` form behind ``user_defined_executable_functions_config``,
    reference ``ch/config.xml:1122-1126``) → Spark SQL UDFs
    (``CREATE TEMPORARY FUNCTION ... RETURN expr``). CH params are
    untyped; optional CH type annotations are honored, default DOUBLE
    (return type is inferred by Spark).
    """
    m = _CREATE_FN_RE.match(sql)
    if not m:
        if re.match(r"^\s*DROP\s+FUNCTION\s+", sql, re.IGNORECASE):
            name = sql.split()[-1].rstrip(";")
            return f"DROP TEMPORARY FUNCTION IF EXISTS {name}"
        return None
    name, params, body = m.group(1), m.group(2).strip(), m.group(3).strip()
    typed = []
    for prm in filter(None, (x.strip() for x in params.split(","))):
        parts = prm.split()
        if len(parts) == 2:
            ty = _PARAM_TYPES.get(parts[1].lower(), "DOUBLE")
            typed.append(f"{parts[0]} {ty}")
        else:
            typed.append(f"{parts[0]} DOUBLE")
    return (
        f"CREATE OR REPLACE TEMPORARY FUNCTION {name}"
        f"({', '.join(typed)}) RETURN {body}"
    )


def _rewrite_ch_clauses(sql: str) -> str:
    """CH clause-level spellings:

    * ``PREWHERE`` → ``WHERE`` — PREWHERE is a ClickHouse storage-read
      optimization hint with WHERE semantics; Catalyst's predicate
      pushdown already does the equivalent two-phase read on parquet.
    * table ``FINAL`` modifier → erased — collapse-on-read is
      MergeTree machinery; our sources have no pending merges.
    * ``GROUP BY k1, k2 WITH TOTALS`` → ``GROUP BY GROUPING SETS
      ((k1, k2), ())`` — exactly the per-group rows plus one grand
      total (NULL group keys), matching CH's TOTALS row placement in
      the row set (position differs; sets compare equal).
    """
    out = _rewrite_prewhere(sql)
    # All quote-shielded (round 13): 'FINAL' / 'GLOBAL IN' /
    # 'SAMPLE 0.5' / 'WITH TOTALS' inside literals keep their text.
    out = _sub_outside_quotes(
        r"\bFINAL\b", lambda m: "", out, flags=re.IGNORECASE
    )
    # CH GLOBAL IN / GLOBAL JOIN: ship-the-subquery-everywhere hint for
    # distributed tables. Spark's optimizer owns the broadcast decision
    # (Catalyst broadcast threshold / AQE), so the keyword is vacuous.
    out = _sub_outside_quotes(
        r"\bGLOBAL\s+(?=(ANY\s+|ALL\s+)?(INNER|LEFT|RIGHT|FULL|CROSS|SEMI|"
        r"ANTI|JOIN|IN\b|NOT\s+IN\b))",
        lambda m: "",
        out,
        flags=re.IGNORECASE,
    )
    # CH SAMPLE k: fraction (k<1) → TABLESAMPLE (p PERCENT); row count
    # (k≥1 integer) → TABLESAMPLE (k ROWS). Approximate in both
    # engines; acceptable drift by contract.
    def _sample(m: "re.Match[str]") -> str:
        k = m.group(1)
        v = float(k)
        if v < 1:
            return f"TABLESAMPLE ({v * 100:g} PERCENT)"
        return f"TABLESAMPLE ({int(v)} ROWS)"

    out = _sub_outside_quotes(
        r"\bSAMPLE\s+(\d*\.?\d+)", _sample, out, flags=re.IGNORECASE
    )
    out = _rewrite_array_join_clause(out)
    m = re.search(
        r"\bGROUP\s+BY\s+(.+?)\s+WITH\s+TOTALS\b",
        _mask_quoted_spans(out),
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        # group spans hold on the raw text (the mask keeps offsets)
        keys = out[m.start(1):m.end(1)].strip()
        out = (
            out[: m.start()]
            + f"GROUP BY GROUPING SETS (({keys}), ())"
            + out[m.end():]
        )
    return out


# CH parametric aggregates fname(params)(args) → Spark fname(args,
# params). quantile* are the ones the CH docs lead with; Exact maps to
# Spark's exact percentile, the default to the t-digest approximation
# (same contract as CH's sampling-based quantile: approximate).
_PW_CLAUSE_RE = re.compile(
    r"(WHERE|GROUP|ORDER|HAVING|LIMIT|SETTINGS|UNION|EXCEPT"
    r"|INTERSECT|FORMAT|WINDOW|QUALIFY)\b",
    re.IGNORECASE,
)


def _rewrite_prewhere(sql: str) -> str:
    """``PREWHERE p [WHERE w]`` → ``WHERE (p) AND (w)`` — PREWHERE is
    a storage-read hint with WHERE semantics, and CH allows BOTH
    clauses on one SELECT (they AND together). A blind keyword sub
    produced two WHERE clauses. The predicate end is found by a
    quote/paren-aware scan so subqueries inside the predicate keep
    their own WHEREs."""
    out = sql
    while True:
        # masked locate: 'PREWHERE x' inside a literal is data
        m = re.search(r"\bPREWHERE\b", _mask_quoted_spans(out),
                      re.IGNORECASE)
        if not m:
            return out
        i, n = m.end(), len(out)
        quote: str | None = None
        depth = 0
        end, merge = n, False
        while i < n:
            c = out[i]
            if quote:
                quote = None if c == quote else quote
            elif c in "'\"":
                quote = c
            elif c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    end = i
                    break
                depth -= 1
            elif depth == 0 and out[i - 1].isspace():
                mm = _PW_CLAUSE_RE.match(out, i)
                if mm:
                    end = i
                    merge = mm.group(1).upper() == "WHERE"
                    break
            i += 1
        pred = out[m.end():end].strip()
        if merge:
            after = re.sub(
                r"^WHERE\s+", "", out[end:], flags=re.IGNORECASE
            )
            # Parenthesize the WHERE predicate too: with a top-level
            # OR in w, `(p) AND w` would regroup as ((p) AND x) OR y.
            # Same quote/paren/clause-keyword walk finds w's end.
            j, nn = 0, len(after)
            wq: str | None = None
            wdepth = 0
            wend = nn
            while j < nn:
                c = after[j]
                if wq:
                    wq = None if c == wq else wq
                elif c in "'\"":
                    wq = c
                elif c == "(":
                    wdepth += 1
                elif c == ")":
                    if wdepth == 0:
                        wend = j
                        break
                    wdepth -= 1
                elif wdepth == 0 and (j == 0 or after[j - 1].isspace()):
                    if _PW_CLAUSE_RE.match(after, j):
                        wend = j
                        break
                j += 1
            w = after[:wend].strip()
            out = (
                out[:m.start()]
                + f"WHERE ({pred}) AND ({w}) "
                + after[wend:]
            ).rstrip()
        else:
            out = (
                out[:m.start()] + f"WHERE {pred} " + out[end:]
            ).rstrip()


_PARAMETRIC = {
    "quantileExact": "percentile",
    "quantilesExact": "percentile",
    "quantileTDigest": "percentile_approx",
    "quantilesTDigest": "percentile_approx",
    "quantileTiming": "percentile_approx",
    "quantilesTiming": "percentile_approx",
    "quantileBFloat16": "percentile_approx",
    "quantilesBFloat16": "percentile_approx",
    "quantiles": "percentile_approx",
    "quantile": "percentile_approx",
    "medianExact": None,  # median(x) handled as plain rename below
}


# Parametric aggregate dispatch: (name, builder(params, args))
# pairs scanned in order (longer names first where one embeds
# another). Module-level so system.functions can enumerate the
# served parametric spellings.
_PARAMETRIC_BUILDERS = (
    # Greenwald-Khanna: accuracy param dropped, t-digest twin.
    ("quantilesGK", lambda p, a: (
        f"quantilesTDigest({', '.join(p[1:])})({', '.join(a)})"
    )),
    ("quantileGK", lambda p, a: (
        f"quantileTDigest({', '.join(p[1:])})({', '.join(a)})"
    )),
    # DDSketch-relative-error quantile -> t-digest capability
    # (first param is the relative error, dropped).
    ("quantileDD", lambda p, a: (
        f"quantileTDigest({', '.join(p[1:])})({', '.join(a)})"
    )),
    # Weighted quantiles → Spark percentile's frequency argument.
    # Plural (multi-level) forms FIRST: their names embed the
    # singular spellings, and the table scans in order.
    ("quantilesExactWeighted", lambda p, a: (
        f"percentile({a[0]}, array({', '.join(p)}), "
        f"CAST({a[1]} AS BIGINT))"
    )),
    ("quantilesInterpolatedWeighted", lambda p, a: (
        f"percentile({a[0]}, array({', '.join(p)}), "
        f"CAST({a[1]} AS BIGINT))"
    )),
    ("quantilesTimingWeighted", lambda p, a: (
        f"percentile({a[0]}, array({', '.join(p)}), "
        f"CAST({a[1]} AS BIGINT))"
    )),
    ("quantilesTDigestWeighted", lambda p, a: (
        f"percentile({a[0]}, array({', '.join(p)}), "
        f"CAST({a[1]} AS BIGINT))"
    )),
    ("quantilesBFloat16Weighted", lambda p, a: (
        f"percentile({a[0]}, array({', '.join(p)}), "
        f"CAST({a[1]} AS BIGINT))"
    )),
    ("quantileExactWeighted", lambda p, a: (
        f"percentile({a[0]}, {p[0]}, CAST({a[1]} AS BIGINT))"
    )),
    ("quantileInterpolatedWeighted", lambda p, a: (
        f"percentile({a[0]}, {p[0]}, CAST({a[1]} AS BIGINT))"
    )),
    ("quantileTimingWeighted", lambda p, a: (
        f"percentile({a[0]}, {p[0]}, CAST({a[1]} AS BIGINT))"
    )),
    ("quantileTDigestWeighted", lambda p, a: (
        f"percentile({a[0]}, {p[0]}, CAST({a[1]} AS BIGINT))"
    )),
    ("quantileBFloat16Weighted", lambda p, a: (
        f"percentile({a[0]}, {p[0]}, CAST({a[1]} AS BIGINT))"
    )),
    # Exact discrete quantiles: lower/upper element of the sorted
    # group (bounded-group materialization, same memory profile
    # as CH's quantileExact).
    ("quantileExactLow", lambda p, a: (
        f"element_at(array_sort(collect_list({a[0]})), "
        f"CAST(floor(({p[0]}) * (count({a[0]}) - 1)) AS INT) + 1)"
    )),
    ("quantileExactHigh", lambda p, a: (
        f"element_at(array_sort(collect_list({a[0]})), "
        f"CAST(ceil(({p[0]}) * (count({a[0]}) - 1)) AS INT) + 1)"
    )),
    ("groupArraySorted", lambda p, a: (
        f"slice(array_sort(collect_list({a[0]})), 1, {p[0]})"
    )),
    ("groupArraySample", lambda p, a: (
        f"slice(shuffle(collect_list({a[0]})), 1, {p[0]})"
    )),
    ("groupConcat", lambda p, a: (
        f"array_join(collect_list({a[0]}), {p[0]})"
    )),
    # groupUniqArray(max_size)(x): bounded distinct collection.
    ("groupUniqArray", lambda p, a: (
        f"slice(collect_set({a[0]}), 1, {p[0]})"
    )),
    # Exact INCLUSIVE quantiles are Spark's percentile (type R-7).
    ("quantileExactInclusive", lambda p, a: (
        f"percentile({a[0]}, {p[0]})"
    )),
    ("quantilesExactInclusive", lambda p, a: (
        f"percentile({a[0]}, array({', '.join(p)}))"
    )),
    # Exact EXCLUSIVE quantiles are the R-6 estimator (Excel
    # PERCENTILE.EXC): h = (n+1)·p over the sorted group,
    # clamped to the ends — one sorted collect + interpolation
    # (graduated from the round-9 refusals).
    ("quantilesExactExclusiveArray", lambda p, a: (
        _quantile_exclusive_expr(a[0], p, arrays=True)
    )),
    ("quantileExactExclusiveArray", lambda p, a: (
        _quantile_exclusive_expr(a[0], p, single=True, arrays=True)
    )),
    ("quantilesExactExclusive", lambda p, a: (
        _quantile_exclusive_expr(a[0], p)
    )),
    ("quantileExactExclusive", lambda p, a: (
        _quantile_exclusive_expr(a[0], p, single=True)
    )),
    # Adaptive histogram → histogram_numeric (bin centers +
    # counts; CH emits (lo, hi, height) triples — capability).
    ("histogram", lambda p, a: (
        f"histogram_numeric({a[0]}, CAST({p[0]} AS INT))"
    )),
    # exponentialMovingAverage(halflife)(v, t): the decayed
    # weighted mean at the LATEST sample — weights
    # 2^(-(t_max - t_i)/halflife) — which is order-free (no
    # block-order dependence: the weights anchor on max(t), not
    # arrival order).
    ("exponentialMovingAverage", _ema_builder),
    # kolmogorovSmirnovTest('two-sided'[, 'asymp'])(x, idx):
    # parameterized form — validates the alternative/method.
    ("kolmogorovSmirnovTest",
     lambda p, a: _ks_test_builder(a, p)),
    # mannWhitneyUTest('two-sided'[, continuity])(x, idx).
    ("mannWhitneyUTest", lambda p, a: _mwu_builder(a, p)),
    # sequenceNextNode(direction, base)(ts, event, base_cond,
    # e1[, ...]): next-event lookup after a matched chain.
    ("sequenceNextNode", _sequence_next_node_builder),
    # Behavioral SQL spellings (the operator library in
    # queries/behavioral.py serves the registry twins):
    ("windowFunnel", _window_funnel_builder),
    ("sequenceMatch",
     lambda p, a: _sequence_match_builder(p, a, count=False)),
    ("sequenceCount",
     lambda p, a: _sequence_match_builder(p, a, count=True)),
    # estimateCompressionRatio('lz4'[, block])(x): the wire LZ4
    # codec as a grouped-agg UDF; other codecs refuse (no zstd
    # in this build; 'none' is the constant 1 by definition).
    ("estimateCompressionRatio", lambda p, a: _ecr_builder(p, a)),
    # t-tests' parameterized (CI) form refuses with guidance;
    # meanZTest's CI is implemented (normal quantile).
    ("studentTTest",
     lambda p, a: _ttest_builder("studentTTest")(a, p)),
    ("welchTTest",
     lambda p, a: _ttest_builder("welchTTest")(a, p)),
    ("meanZTest", _mean_z_builder),
    # largestTriangleThreeBuckets(n)(x, y): published LTTB
    # downsampling as an O(N) fold (see _lttb_builder).
    ("largestTriangleThreeBuckets", _lttb_builder),
    # groupArrayInsertAt(default[, size])(x, pos): the parametric
    # form of the sparse position-indexed collect — holes get the
    # explicit default (the bare 2-arg form leaves NULL holes,
    # deviation documented there); with size, the result is
    # exactly size long (positions beyond truncate, CH contract).
    ("groupArrayInsertAt", lambda p, a: (
        _refuse(
            "groupArrayInsertAt(default[, size])(x, pos) — one "
            "or two parameters, two arguments"
        )
        if len(p) not in (1, 2) or len(a) != 2
        else (
            # slice-clamp so size 0 yields [] instead of the
            # descending sequence(0, -1) (the mapPopulateSeries
            # safe_seq hazard).
            f"transform(slice(sequence(0, greatest("
            + (
                f"CAST({p[1]} AS INT)"
                if len(p) == 2
                else f"CAST(max({a[1]}) + 1 AS INT)"
            )
            + " - 1, 0)), 1, greatest("
            + (
                f"CAST({p[1]} AS INT)"
                if len(p) == 2
                else f"CAST(max({a[1]}) + 1 AS INT)"
            )
            + f", 0)), __i -> coalesce("
            f"try_element_at(filter(collect_list(named_struct("
            f"'p', CAST({a[1]} AS INT), 'v', {a[0]})), "
            f"__e -> __e.p = CAST(__i AS INT)), 1).v, {p[0]}))"
        )
    )),
    # sparkbar(width[, min, max])(x, y): bucketed block-glyph
    # bar string (see _sparkbar_builder).
    ("sparkbar", _sparkbar_builder),
    # Keep-list map sum: filter each map to the kept keys, then
    # the sumMap fold.
    # -Resample combinators: literal buckets expand to plain
    # conditional aggregates (see _resample_builder).
    ("countResample", _resample_builder("count")),
    ("sumResample", _resample_builder("sum")),
    ("avgResample", _resample_builder("avg")),
    ("minResample", _resample_builder("min")),
    ("maxResample", _resample_builder("max")),
    # -WithOverflow keeps CH's wrapping value type; Spark's ANSI
    # sum raises on overflow instead, so both spell identically
    # (the sumMapWithOverflow precedent).
    ("sumMapFilteredWithOverflow", lambda p, a: (
        _sum_map_filtered(p, a)
    )),
    ("sumMapFiltered", lambda p, a: _sum_map_filtered(p, a)),
    # -State/-Merge for the collect-backed parametrics (round-11
    # seam sweep #2): the state is the raw multiset — an EXACT
    # capability superset of CH's reservoir/space-saving states —
    # and -Merge folds flattened states to the final value.
    ("quantilesState", lambda p, a: (
        f"array_sort(collect_list({a[0]}))"
    )),
    ("quantileState", lambda p, a: (
        f"array_sort(collect_list({a[0]}))"
    )),
    ("quantileMerge", lambda p, a: _quantile_r7_over(
        f"array_sort(flatten(collect_list({a[0]})))", p[0]
    )),
    ("topKState", lambda p, a: f"collect_list({a[0]})"),
    ("topKMerge", lambda p, a: _topk_expr(
        a[0], p[0], arr=f"flatten(collect_list({a[0]}))"
    )),
)

# Every parametric head the dialect knows, for the bare-single-call
# guard (_bare_parametric_guard): a surviving `head(args)` with no
# parameter group is invalid CH and must raise the guided arity
# error, not Spark's UNRESOLVED_ROUTINE.
_PARAMETRIC_HEAD_NAMES = tuple(sorted(
    {n for n in _PARAMETRIC if _PARAMETRIC[n] is not None}
    | {n for n, _ in _PARAMETRIC_BUILDERS}
    | {
        "histogram", "sparkbar", "windowFunnel", "sequenceMatch",
        "sequenceCount", "sequenceNextNode", "sumMapFiltered",
        "sumMapFilteredWithOverflow", "exponentialMovingAverage",
        "groupArraySample", "groupArraySorted",
        "quantilesBFloat16Weighted", "quantilesExactExclusiveArray",
        "avgResample", "minResample", "maxResample",
    },
    key=str.lower,
))


def _rewrite_parametric(sql: str) -> str:
    out = sql
    # approx_top_sum shares topKWeighted's weighted ranking but NOT
    # its result shape: CH returns Array(Tuple(item, count, error)),
    # not a bare values array, so both forms use the tuple-shaped
    # fold. The plain two-argument form carries CH's default N = 10.
    while True:
        call = _find_call(out, "approx_top_sum")
        if call is None:
            break
        start, end, params = call
        if end < len(out) and out[end] == "(":
            if len(params) != 1:
                raise ValueError(
                    "approx_top_sum(N)(column, weight) takes one "
                    "parameter"
                )
            depth, i, quote = 1, end + 1, None
            while i < len(out) and depth > 0:
                c = out[i]
                if quote:
                    if c == quote:
                        quote = None
                elif c in "'\"":
                    quote = c
                elif c == "(":
                    depth += 1
                elif c == ")":
                    depth -= 1
                i += 1
            args = _split_args_top(out[end + 1:i - 1])
            if len(args) != 2:
                raise ValueError(
                    "approx_top_sum(N)(column, weight) takes two "
                    "arguments"
                )
            out = (
                out[:start]
                + _topk_weighted_expr(
                    args[0], args[1], params[0].strip(), tuples=True
                )
                + out[i:]
            )
        else:
            if len(params) != 2:
                raise ValueError(
                    "approx_top_sum(column, weight) takes two "
                    "arguments (or the approx_top_sum(N)(column, "
                    "weight) parametric form)"
                )
            out = (
                out[:start]
                + _topk_weighted_expr(
                    params[0].strip(), params[1].strip(), "10",
                    tuples=True,
                )
                + out[end:]
            )
    # topKWeighted(k)(x, w) → the topK exact twin folding the weight
    # instead of +1 per occurrence.
    while True:
        call = _find_call(out, "topKWeighted")
        if call is None:
            break
        start, end, params = call
        if end >= len(out) or out[end] != "(":
            # Bare topKWeighted(column, weight): CH serves it with
            # the default N = 10 (same posture as approx_top_sum).
            if len(params) == 2:
                out = (
                    out[:start]
                    + _topk_weighted_expr(
                        params[0].strip(), params[1].strip(), "10",
                    )
                    + out[end:]
                )
                continue
            raise ValueError(
                "topKWeighted(k) must be followed by (column, weight)"
            )
        depth, i = 1, end + 1
        while i < len(out) and depth > 0:
            if out[i] == "(":
                depth += 1
            elif out[i] == ")":
                depth -= 1
            i += 1
        inner = out[end + 1:i - 1]
        # split "x, w" at the top level
        d = b = 0
        cut = -1
        for j, c in enumerate(inner):
            if c == "(":
                d += 1
            elif c == ")":
                d -= 1
            elif c == "[":
                b += 1
            elif c == "]":
                b -= 1
            elif c == "," and d == 0 and b == 0:
                cut = j
                break
        if cut < 0:
            raise ValueError("topKWeighted(k)(x, w) needs two arguments")
        if not params:
            raise ValueError("topKWeighted(k)(x, w) needs the k parameter")
        xcol, wcol = inner[:cut].strip(), inner[cut + 1:].strip()
        out = (
            out[:start]
            + _topk_weighted_expr(xcol, wcol, params[0])
            + out[i:]
        )
    # topK(k)(x) → exact most-frequent-k expression (see _topk_expr).
    while True:
        call = _find_call(out, "topK")
        if call is None:
            break
        start, end, params = call
        if end >= len(out) or out[end] != "(":
            # Bare topK(column): CH serves it with the default N = 10.
            if len(params) == 1:
                out = (
                    out[:start]
                    + _topk_expr(params[0].strip(), "10")
                    + out[end:]
                )
                continue
            raise ValueError("topK(k) must be followed by (column)")
        if not params:
            raise ValueError("topK(k)(column) needs the k parameter")
        depth, i = 1, end + 1
        while i < len(out) and depth > 0:
            if out[i] == "(":
                depth += 1
            elif out[i] == ")":
                depth -= 1
            i += 1
        col = out[end + 1:i - 1]
        out = out[:start] + _topk_expr(col, params[0]) + out[i:]
    # quantile(s)Deterministic(q)(x, determinator): the determinator
    # only seeds CH's reservoir sampling — drop it and defer to the
    # plain quantile machinery below.
    for det_name, plain in (
        ("quantilesDeterministic", "quantilesTDigest"),
        ("quantileDeterministic", "quantileTDigest"),
    ):
        while True:
            call = _find_call(out, det_name)
            if call is None:
                break
            start, end, params = call
            if end >= len(out) or out[end] != "(":
                # Bare quantileDeterministic(x, determinator) is
                # valid CH (default level 0.5); the plural form has
                # no bare spelling.
                if det_name == "quantileDeterministic" and (
                    len(params) == 2
                ):
                    out = (
                        out[:start]
                        + f"{plain}(0.5)({params[0]})"
                        + out[end:]
                    )
                    continue
                raise ValueError(
                    f"{det_name}(levels) must be followed by "
                    "(column, determinator)"
                )
            depth, i = 1, end + 1
            while i < len(out) and depth > 0:
                if out[i] == "(":
                    depth += 1
                elif out[i] == ")":
                    depth -= 1
                i += 1
            inner = _split_args_top(out[end + 1:i - 1])
            out = (
                out[:start]
                + f"{plain}({', '.join(params)})({inner[0]})"
                + out[i:]
            )
    # uniqUpTo(N)(x): exact count-distinct saturating at N+1 — CH's
    # contract ("N+1 means more than N") is exactly expressible.
    while True:
        call = _find_call(out, "uniqUpTo")
        if call is None:
            break
        start, end, params = call
        if end >= len(out) or out[end] != "(":
            raise ValueError("uniqUpTo(N) must be followed by (column)")
        if not params:
            raise ValueError("uniqUpTo(N)(column) needs the N parameter")
        depth, i = 1, end + 1
        while i < len(out) and depth > 0:
            if out[i] == "(":
                depth += 1
            elif out[i] == ")":
                depth -= 1
            i += 1
        col = out[end + 1:i - 1]
        out = (
            out[:start]
            + f"least(count(DISTINCT {col}), ({params[0]}) + 1)"
            + out[i:]
        )
    # Table-driven parametric rewrites: name(params)(args) → template.
    for pname, builder in _PARAMETRIC_BUILDERS:
        pos = 0
        while True:
            call = _find_call(out, pname, pos)
            if call is None:
                break
            start, end, params = call
            span_m = re.match(r"\s*\(", out[end:])
            if not span_m:
                # not the parametric form HERE — a bare occurrence
                # must not stop the scan from reaching a later
                # parametric one in the same query
                pos = end
                continue
            j, depth, quote = end + span_m.end(), 1, None
            while j < len(out) and depth:
                c = out[j]
                if quote:
                    quote = None if c == quote else quote
                elif c in "'\"":
                    quote = c
                elif c == "(":
                    depth += 1
                elif c == ")":
                    depth -= 1
                j += 1
            real = _split_args_top(out[end + span_m.end():j - 1])
            if j < len(out) and out[j] == "(":
                # name(a)(b)(c): a THIRD paren group would splice into
                # malformed SQL (e.g. quantileGK written with the
                # level split out) — refuse with the documented shape.
                raise ValueError(
                    f"{pname} takes parameters and arguments as "
                    f"{pname}(params)(args) — a third parenthesized "
                    "group is not part of the signature (write the "
                    "level inside the parameter list, e.g. "
                    f"{pname}(accuracy, level)(expr))"
                )
            try:
                built = builder(params, real)
            except IndexError:
                raise ValueError(
                    f"{pname}(params)(args): missing required "
                    f"parameters or arguments (got {len(params)} "
                    f"parameter(s), {len(real)} argument(s))"
                ) from None
            out = out[:start] + built + out[j:]
            pos = 0  # rescan; the built text has no (p)(a) shape
    out = _rewrite_time_decayed(out)
    # Parametric aggregates that are order-dependent state machines —
    # refuse with the window/rewrite hint before Spark's opaque
    # UNRESOLVED_ROUTINE.
    for refuse_name, hint in (
        (
            "groupArrayLast",
            "groupArrayLast() is block-order dependent; use "
            "slice(array_sort(collect_list(struct(ts, x))), -k, k) "
            "over an explicit order key",
        ),
        (
            "sequenceMatchEvents",
            "sequenceMatchEvents() (matched-event timestamps) ships "
            "in ClickHouse >= 23.10, newer than the reference's "
            "pinned CH 23.6 — not served; sequenceMatch gives the "
            "boolean, and min/max over per-condition timestamps "
            "recover the chain endpoints",
        ),
        (
            "flameGraph",
            "flameGraph() consumes profiler trace samples, which this "
            "engine does not collect",
        ),
        (
            "stochasticLinearRegression",
            "stochasticLinearRegression() (SGD-fitted linear model "
            "state) is not served: iterative model fitting belongs "
            "in Spark MLlib (pyspark.ml.regression.LinearRegression);"
            " for a closed-form single-feature fit use "
            "simpleLinearRegression(x, y), which is served",
        ),
        (
            "stochasticLogisticRegression",
            "stochasticLogisticRegression() (SGD-fitted logistic "
            "model state) is not served: iterative model fitting "
            "belongs in Spark MLlib (pyspark.ml.classification."
            "LogisticRegression); simpleLinearRegression(x, y) "
            "covers the closed-form linear case",
        ),
    ):
        if _find_call(out, refuse_name) is not None:
            raise ValueError(hint)
    for ch, sp in _PARAMETRIC.items():
        if sp is None:
            continue
        while True:
            call = _find_call(out, ch)
            if call is None:
                break
            start, end, params = call
            if end >= len(out) or out[end] != "(":
                break  # not the parametric form; leave it
            depth, i = 1, end + 1
            while i < len(out) and depth > 0:
                if out[i] == "(":
                    depth += 1
                elif out[i] == ")":
                    depth -= 1
                i += 1
            col = out[end + 1:i - 1]
            levels = ", ".join(params)
            if len(params) > 1 or ch.startswith("quantiles"):
                levels = f"array({levels})"
            out = out[:start] + f"{sp}({col}, {levels})" + out[i:]
    return out


def _mask_quoted_spans(sql: str) -> str:
    """Blank out string-literal AND quoted-identifier contents (keeps
    offsets) so scans over the SQL text can't trip on quoted data
    like '(?1)(?2)'. Backtick spans are masked too (round 13): a
    column named `` `GROUP BY x WITH TOTALS` `` is an identifier,
    not a clause — every masked locator must skip it. Backslash is
    an escape inside '/" only; inside backticks it is literal."""
    masked = []
    quote: str | None = None
    skip = False
    for c in sql:
        if quote:
            masked.append(" ")
            if skip:
                skip = False
            elif c == "\\" and quote != "`":
                skip = True  # \' stays inside the literal
            elif c == quote:
                quote = None
        elif c in "'\"`":
            quote = c
            masked.append(" ")
        else:
            masked.append(c)
    return "".join(masked)


# The statement-router mask (engine.py matches router regexes on a
# masked copy and re-slices groups from the raw text): blanks
# single-quoted literal CONTENT only, keeps delimiters and
# identifier-quoting spans, offsets preserved. Canonical
# implementation lives in schema.py (the schema parsers need it and
# transpile imports schema, not the reverse); re-exported here for
# the engine and tests.
from bighouse_spark.dialect.schema import (  # noqa: E402,F401
    _mask_string_literals,
)


def _bare_parametric_guard(sql: str) -> None:
    """A known parametric head still standing as a SINGLE call
    (``quantilesTiming(x)`` with no parameter group) is an invalid-
    in-CH spelling that Spark would kill with UNRESOLVED_ROUTINE;
    raise the guided arity error instead (round-12 sweep: 30 heads
    leaked this way)."""
    low = sql.lower()
    hit = [
        n for n in _PARAMETRIC_HEAD_NAMES if n.lower() + "(" in
        low.replace(" ", "")
    ]
    if not hit:
        return
    s = _mask_quoted_spans(sql)
    for n in hit:
        if re.search(rf"(?<![\w.]){re.escape(n)}\s*\(", s):
            raise ValueError(
                f"{n} is a parametric aggregate: spell "
                f"{n}(parameters)(arguments); the bare "
                "single-call form is invalid in ClickHouse too"
            )


def _unknown_parametric_guard(sql: str) -> None:
    """Any ``name(params)(args)`` call still standing after every
    parametric rewrite is a CH parametric aggregate this engine does
    not serve — Spark has no call-of-call syntax, so letting it
    through yields a raw PARSE_SYNTAX_ERROR with no hint. Raise the
    guided error instead, naming the head. String literals are
    masked first so pattern arguments like '(?1)(?2)' can't trip
    the scan."""
    s = _mask_quoted_spans(sql)
    # SQL keywords can legitimately precede two adjacent paren groups
    # (``WITH t AS (SELECT 1) (SELECT * FROM t)``, ``x IN (...) (...)``
    # inside a larger expression) — they are never parametric heads.
    keyword_heads = {
        "as", "in", "on", "values", "union", "except", "intersect",
        "when", "then", "else", "and", "or", "not", "where", "from",
        "select", "having", "by", "all", "distinct", "exists", "any",
        "between", "like", "ilike", "using", "join", "over",
    }
    for m in re.finditer(r"\b([A-Za-z_][A-Za-z0-9_]*)\s*\(", s):
        if m.group(1).lower() in keyword_heads:
            continue
        depth, i = 1, m.end()
        while i < len(s) and depth:
            if s[i] == "(":
                depth += 1
            elif s[i] == ")":
                depth -= 1
            i += 1
        j = i
        while j < len(s) and s[j].isspace():
            j += 1
        if depth == 0 and j < len(s) and s[j] == "(":
            # A second group opening a subquery is a parenthesized
            # SELECT following a value/paren group, not parametric args.
            k = j + 1
            while k < len(s) and (s[k].isspace() or s[k] == "("):
                k += 1
            if re.match(r"(?i)(select|with)\b", s[k:]):
                continue
            raise ValueError(
                f"parametric aggregate {m.group(1)}() is not "
                "implemented by this engine; see SHOW FUNCTIONS for "
                "the served parametric forms (quantile*/topK/"
                "windowFunnel/sequenceMatch/histogram/...)"
            )


def _rewrite_array_literals(sql: str) -> str:
    """CH ``[1, 2, 3]`` array literals → ``array(1, 2, 3)``.

    A ``[`` is a *subscript* (left alone) when the previous token ends
    a value expression — an identifier that is not a SQL keyword,
    ``)``, ``]`` or a quoted literal; otherwise it opens an array
    literal. Nested literals and string contents are handled by one
    quote-tracking scan with a bracket stack.
    """
    keywords = {
        "select", "where", "when", "then", "else", "in", "and", "or",
        "not", "by", "on", "as", "return", "case", "having", "union",
        "all", "distinct", "between", "from", "end", "is", "like",
    }
    out: list[str] = []
    stack: list[bool] = []  # True = converted to array(
    quote = None
    prev_sig = ""  # last non-whitespace char
    prev_raw = ""  # last char, including whitespace
    word: list[str] = []  # the identifier token ending at prev_sig
    for c in sql:
        if quote:
            out.append(c)
            if c == quote:
                quote = None
            prev_raw = c
            continue
        if c in "'\"`":
            quote = c
            out.append(c)
        elif c == "[":
            is_subscript = bool(prev_sig) and (
                prev_sig in ")]'\"`"
                or (
                    (prev_sig.isalnum() or prev_sig == "_")
                    and "".join(word).lower() not in keywords
                )
            )
            stack.append(not is_subscript)
            out.append(c if is_subscript else "array(")
        elif c == "]":
            converted = stack.pop() if stack else False
            out.append(")" if converted else c)
        else:
            out.append(c)
        if c.isalnum() or c == "_":
            word = word + [c] if (prev_raw.isalnum() or prev_raw == "_") else [c]
        elif not c.isspace():
            word = []
        if not c.isspace():
            prev_sig = c
        prev_raw = c
    return "".join(out)


def _rewrite_subscripts(sql: str) -> str:
    """CH subscripts are 1-based (and negative-from-end); Spark's
    ``x[i]`` is 0-based — silently off-by-one, the worst kind of
    wrong. Rewrite every remaining ``base[idx]`` (all are subscripts
    once ``_rewrite_array_literals`` converted literals) to
    ``try_element_at(base, idx)``: 1-based, negative-from-end, NULL on
    out-of-range / missing map key (CH returns the type default
    there — NULL is the honest Spark spelling of "no such element").
    """
    def _ident_walk_back(s: str, k: int) -> int:
        # identifier walk that steps over backtick-quoted segments
        # (`tbl`.`col`) as well as plain name characters
        while k >= 0:
            if s[k] == "`":
                k -= 1
                while k >= 0 and s[k] != "`":
                    k -= 1
                k -= 1
            elif s[k].isalnum() or s[k] in "_.":
                k -= 1
            else:
                break
        return k

    while True:
        # Forward scan for the first subscript '[' outside strings
        # and backtick identifiers (round 13: `x[1]` as an IDENTIFIER
        # must keep its spelling; `x`[1] IS a subscript).
        quote = None
        pos = -1
        for i, c in enumerate(sql):
            if quote:
                if c == quote:
                    quote = None
                continue
            if c in "'\"`":
                quote = c
            elif c == "[":
                prev = sql[:i].rstrip()
                if prev and (prev[-1] in ")]`" or prev[-1].isalnum()
                             or prev[-1] == "_"):
                    pos = i
                    break
        if pos < 0:
            return sql
        # Matching ']' (subscript indexes contain no brackets after
        # literal conversion, but track strings + parens anyway).
        depth, quote, end = 1, None, -1
        for j in range(pos + 1, len(sql)):
            c = sql[j]
            if quote:
                if c == quote:
                    quote = None
                continue
            if c in "'\"`":
                quote = c
            elif c in "([":
                depth += 1
            elif c in ")]":
                depth -= 1
                if depth == 0:
                    end = j
                    break
        if end < 0:
            return sql  # unbalanced — leave for Spark's parser
        # Backward walk for the base expression start.
        k = pos - 1
        while k >= 0 and sql[k].isspace():
            k -= 1
        if sql[k] in ")]":
            closer, opener = sql[k], "(" if sql[k] == ")" else "["
            d = 1
            k -= 1
            while k >= 0 and d:
                if sql[k] == closer:
                    d += 1
                elif sql[k] == opener:
                    d -= 1
                k -= 1
            # function name / identifier preceding the paren group
            k = _ident_walk_back(sql, k)
        else:
            k = _ident_walk_back(sql, k)
        start = k + 1
        base, idx = sql[start:pos], sql[pos + 1:end]
        sql = (
            f"{sql[:start]}try_element_at({base}, {idx}){sql[end + 1:]}"
        )


def _topk_weighted_expr(
    col: str, weight: str, k: str, tuples: bool = False
) -> str:
    """Exact twin of CH ``topKWeighted(k)(x, w)``: values ranked by
    summed weight desc, ties asc by value. Same collected-group fold
    as ``_topk_expr`` with the weight folded instead of +1 (same
    low-cardinality usage caveat). ``tuples=True`` yields
    ``approx_top_sum``'s shape — Array(Tuple(item, count, error)) —
    with error 0 since this twin is exact."""
    freq = (
        f"aggregate(collect_list(named_struct('k', {col}, 'w', "
        f"CAST({weight} AS BIGINT))), "
        # typed-empty seed: slice of the collected values fixes the
        # key type without map(first(col), ...), whose NULL key threw
        # on EMPTY groups (round-11 fix)
        f"map_from_arrays(slice(collect_list({col}), 1, 0), "
        f"CAST(array() AS ARRAY<BIGINT>)), "
        f"(m, e) -> map_concat(map_filter(m, (k, v) -> k != e.k), "
        f"map(e.k, coalesce(m[e.k], cast(0 as bigint)) + e.w)))"
    )
    cmp = (
        "(l, r) -> CASE WHEN l.value > r.value THEN -1 "
        "WHEN l.value < r.value THEN 1 "
        "WHEN l.key < r.key THEN -1 "
        "WHEN l.key > r.key THEN 1 ELSE 0 END"
    )
    shape = (
        "s -> named_struct('item', s.key, 'count', s.value, "
        "'error', cast(0 as bigint))"
        if tuples
        else "s -> s.key"
    )
    return (
        f"slice(transform(array_sort(map_entries({freq}), {cmp}), "
        f"{shape}), 1, {k})"
    )


def _quantile_r7_over(arr: str, p: str) -> str:
    """Exact R-7 (Spark percentile's rule) interpolation over an
    already-sorted array expression: h = (n-1)*p, linear between the
    floor/ceil elements, NULL on empty input. The array expression
    repeats textually; Catalyst dedups the underlying aggregate."""
    h = f"(CAST((size({arr}) - 1) AS DOUBLE) * ({p}))"
    lo = f"CAST(try_element_at({arr}, CAST(floor({h}) AS INT) + 1) AS DOUBLE)"
    hi = (
        f"CAST(coalesce(try_element_at({arr}, "
        f"CAST(floor({h}) AS INT) + 2), "
        f"try_element_at({arr}, CAST(floor({h}) AS INT) + 1)) "
        f"AS DOUBLE)"
    )
    return (
        f"IF(size({arr}) = 0, CAST(NULL AS DOUBLE), "
        f"{lo} + ({h} - floor({h})) * ({hi} - {lo}))"
    )


def _topk_expr(col: str, k: str, arr: str | None = None) -> str:
    """Exact twin of CH ``topK(k)(x)``: the k most frequent values,
    desc by count, ties asc by value. A frequency map is folded over
    the collected group with an aggregate HOF (the ``first(col)``
    seed only fixes the map's key type), then sorted and sliced.
    Scale caveat: like ``groupArray``, this materializes each group's
    values on one reducer — CH users point topK at low-cardinality
    columns, and so should users of this twin; the distributed shape
    is GROUP BY count ORDER BY LIMIT."""
    cl = arr if arr is not None else f"collect_list({col})"
    freq = (
        f"aggregate({cl}, "
        # typed-empty seed (see _topk_weighted_expr): no NULL map key
        # on empty groups
        f"map_from_arrays(slice({cl}, 1, 0), "
        f"CAST(array() AS ARRAY<BIGINT>)), "
        f"(m, e) -> map_concat(map_filter(m, (k, v) -> k != e), "
        f"map(e, coalesce(m[e], cast(0 as bigint)) + 1)))"
    )
    cmp = (
        "(l, r) -> CASE WHEN l.value > r.value THEN -1 "
        "WHEN l.value < r.value THEN 1 "
        "WHEN l.key < r.key THEN -1 "
        "WHEN l.key > r.key THEN 1 ELSE 0 END"
    )
    return (
        f"slice(transform(array_sort(map_entries({freq}), {cmp}), "
        f"s -> s.key), 1, {k})"
    )


def _rewrite_contextual(sql: str) -> str:
    """Arity/context-sensitive rewrites where a blind rename would
    corrupt standard SQL (the cases the NOTE in _FUNC_RENAMES
    deliberately skips):

    - ``any(x)`` → ``any_value(x)`` — except after a comparison
      operator (quantified ``> ANY(subq)`` stays untouched). Unmapped,
      Spark parses ``any`` as bool_or and fails or silently coerces.
    - ``position(h, n[, p])`` → ``instr``/``locate`` with CH's
      haystack-first order (unmapped two-arg position would run with
      SWAPPED argument semantics — silently wrong); single-arg
      ``POSITION(x IN y)`` passes through (same semantics in Spark).
    - ``extract(x, 'pat')`` → ``regexp_extract`` (group 1 if the
      pattern contains a group, else the whole match — CH behavior);
      ``EXTRACT(unit FROM ts)`` passes through.
    - ``range(...)`` → ``sequence(...)`` with CH's exclusive end
      bound; in FROM position it is Spark's table-valued range() and
      passes through (the numbers() rewrite emits exactly that).
    """
    out = sql

    # Quantified subquery comparisons — Spark's parser has no
    # op ANY/ALL/SOME (subquery). Equality forms are IN/NOT IN;
    # ordering forms reduce to one scalar aggregate over the subquery
    # (x > ALL s == x > max(s), x > ANY s == x > min(s) — standard
    # identities, exact when the subquery has rows; empty-subquery
    # NULL-vs-TRUE divergence is documented in the guided error for
    # the forms that need row-wise semantics).
    _qpos = 0
    while True:
        qm = _QUANTIFIED_CMP_RE.search(out, _qpos)
        if qm is None:
            break
        if _inside_string_literal(out, qm.start()):
            _qpos = qm.end()
            continue
        op, quant = qm.group(1), qm.group(2).upper()
        depth, j = 1, qm.end()
        while j < len(out) and depth:
            if out[j] == "(":
                depth += 1
            elif out[j] == ")":
                depth -= 1
            j += 1
        sub = out[qm.end():j - 1]
        if not re.match(r"\s*(SELECT|WITH)\b", sub, re.IGNORECASE):
            # `x = any(col)` is the any() AGGREGATE, not a quantified
            # comparison — only subqueries take this path.
            _qpos = qm.end()
            continue
        if op == "=" and quant in ("ANY", "SOME"):
            repl = f" IN ({sub})"
        elif op in ("!=", "<>") and quant == "ALL":
            repl = f" NOT IN ({sub})"
        elif op in (">", ">=", "<", "<="):
            agg = ("max" if (op in (">", ">=")) == (quant == "ALL")
                   else "min")
            # The min/max identity is exact only for non-empty,
            # NULL-free subqueries (x > ALL(empty) is TRUE, and a
            # NULL element can flip the three-valued result) — an
            # in-plan assert makes the divergent cases a loud error
            # instead of a silent wrong answer, at zero extra passes.
            guard = (
                f"assert_true(count(*) > 0 AND count(*) = "
                f"count(__bh_q0), '{op} {quant} (subquery): empty or "
                f"NULL-containing subqueries need row-wise "
                f"semantics; spell with IN/NOT IN or NOT EXISTS') "
                f"IS NULL"
            )
            repl = (
                f" {op} (SELECT CASE WHEN {guard} THEN "
                f"{agg}(__bh_q0) END FROM ({sub}) "
                f"AS __bh_qt(__bh_q0))"
            )
        else:
            raise ValueError(
                f"{op} {quant} (subquery) has row-wise NULL semantics "
                "with no single-aggregate rewrite; spell it with "
                "IN/NOT IN or an EXISTS correlated subquery"
            )
        out = out[:qm.start()] + repl + out[j:]
        _qpos = qm.start() + len(repl)

    pos = 0
    while (call := _find_call(out, "any", pos)) is not None:
        start, end, args = call
        # Quantified `op ANY (subquery)` forms were rewritten above,
        # so any remaining any(...) is the aggregate — including in
        # comparison position (max(x) = any(x)).
        out = out[:start] + f"any_value({', '.join(args)})" + out[end:]

    pos = 0
    while (call := _find_call(out, "position", pos)) is not None:
        start, end, args = call
        if len(args) <= 1:  # POSITION(x IN y) / malformed bare call
            pos = end
            continue
        if len(args) == 2:
            repl = f"instr({args[0]}, {args[1]})"
        else:
            repl = f"locate({args[1]}, {args[0]}, {args[2]})"
        out = out[:start] + repl + out[end:]

    pos = 0
    while (call := _find_call(out, "extract", pos)) is not None:
        start, end, args = call
        if len(args) <= 1:  # EXTRACT(unit FROM ts) / malformed bare call
            pos = end
            continue
        group = "1" if "(" in args[1] else "0"
        repl = f"regexp_extract({args[0]}, {args[1]}, {group})"
        out = out[:start] + repl + out[end:]

    # CH value-remap transform(x, from[], to[][, default]) — collides
    # with Spark's 2-arg HOF transform (which arrayMap also emits), so
    # it is arity-guarded here. Missing keys keep x (3-arg) or take
    # the default (4-arg); try_element_at returns NULL on a miss even
    # under ANSI mode.
    pos = 0
    while (call := _find_call(out, "transform", pos)) is not None:
        start, end, args = call
        if len(args) not in (3, 4):
            pos = end
            continue
        mapped = (
            f"try_element_at(map_from_arrays({args[1]}, {args[2]}), "
            f"{args[0]})"
        )
        fallback = args[3] if len(args) == 4 else args[0]
        out = (
            out[:start] + f"coalesce({mapped}, {fallback})" + out[end:]
        )

    pos = 0
    while (call := _find_call(out, "range", pos)) is not None:
        start, end, args = call
        prefix = out[:start].rstrip()
        if prefix.upper().endswith("FROM") or not args:
            pos = end
            continue
        if len(args) == 1:
            repl = f"sequence(0, ({args[0]}) - 1)"
        elif len(args) == 2:
            repl = f"sequence({args[0]}, ({args[1]}) - 1)"
        else:
            repl = f"sequence({args[0]}, ({args[1]}) - 1, {args[2]})"
        out = out[:start] + repl + out[end:]

    return out


def _inside_string_literal(s: str, pos: int) -> bool:
    """True when ``pos`` falls inside a single-quoted SQL string
    ('' and backslash escapes honored) — the guard every textual
    rewrite pass needs before touching a match."""
    in_q = False
    i = 0
    while i < pos:
        c = s[i]
        if in_q:
            if c == "\\":
                i += 2
                continue
            if c == "'":
                if i + 1 < len(s) and s[i + 1] == "'":
                    i += 2
                    continue
                in_q = False
        elif c == "'":
            in_q = True
        i += 1
    return in_q


_QUANTIFIED_CMP_RE = re.compile(
    r"(=|!=|<>|>=|<=|>|<)\s*(ANY|ALL|SOME)\s*\(", re.IGNORECASE
)
_COLONCOLON_TYPE_RE = re.compile(
    r"\s*([A-Za-z_][A-Za-z0-9_]*(\([^()]*\))?)"
)


def _rewrite_cast_types(sql: str) -> str:
    """CH type names inside standard casts → Spark DDL types:
    ``CAST(x AS Int64)`` → ``CAST(x AS bigint)``, ``x::Float64`` →
    ``x::double``. Types the schema parser doesn't recognize (already
    Spark spellings like BIGINT) pass through untouched; the ``::``
    scan is quote-aware so IPv6 literals ('::ffff:1.2.3.4') survive."""
    from bighouse_spark.dialect.schema import ch_type_to_spark

    out = sql
    for kw in ("CAST", "TRY_CAST"):
        if kw.lower() not in out.lower():
            continue
        pos = 0
        while True:
            call = _find_call(out, kw, pos)
            if call is None:
                break
            start, end, args = call
            pos = start + 1
            if len(args) != 1:
                continue
            body = args[0]
            # Rightmost top-level `AS` (any whitespace around it)
            # splits expr from the type.
            depth, quote = 0, None
            as_span = None
            i = 0
            while i < len(body):
                c = body[i]
                if quote:
                    if c == quote:
                        quote = None
                elif c in "'\"":
                    quote = c
                elif c in "([":
                    depth += 1
                elif c in ")]":
                    depth -= 1
                elif depth == 0 and c.isspace():
                    m_as = re.match(r"\s+AS\s+", body[i:], re.IGNORECASE)
                    if m_as:
                        as_span = (i, i + m_as.end())
                        i += m_as.end()
                        continue
                i += 1
            if as_span is None:
                continue
            expr, ty = body[: as_span[0]], body[as_span[1] :].strip()
            tyl = ty.lower()
            if tyl.startswith(("variant(", "dynamic", "nothing")):
                # known CH types with no Spark analog: refuse with
                # guidance instead of letting Spark's parser throw an
                # opaque ParseException
                raise ValueError(
                    f"CAST AS {ty}: Variant/Dynamic/Nothing have no "
                    "Spark column type; model the union explicitly "
                    "(separate typed columns, or a String column with "
                    "a type tag)"
                )
            try:
                spark_ty = ch_type_to_spark(ty).simpleString()
            except Exception:
                continue
            out = out[:start] + f"{kw}({expr} AS {spark_ty})" + out[end:]
    # expr::Type postfix casts.
    if "::" in out:
        res, i, quote = [], 0, None
        while i < len(out):
            c = out[i]
            if quote:
                res.append(c)
                if c == quote:
                    quote = None
                i += 1
            elif c in "'\"`":
                quote = c
                res.append(c)
                i += 1
            elif c == ":" and out[i : i + 2] == "::":
                m = _COLONCOLON_TYPE_RE.match(out, i + 2)
                if m:
                    try:
                        spark_ty = ch_type_to_spark(
                            m.group(1)
                        ).simpleString()
                        res.append(f"::{spark_ty}")
                        i = m.end()
                        continue
                    except Exception:
                        pass
                res.append("::")
                i += 2
            else:
                res.append(c)
                i += 1
        out = "".join(res)
    return out


def _rewrite_cityhash_exact(sql: str, exact: bool = False) -> str:
    """``cityHash64Exact(args...)`` (always) and plain ``cityHash64``
    (under SETTINGS exact_cityhash=1) → the bit-exact v1.0.2 pandas
    UDF. The struct carries the arguments in call order; ``*`` passes
    the whole row, matching CH's per-column left-fold combine."""
    out = sql
    names = ["cityHash64Exact"] + (["cityHash64"] if exact else [])
    for fn in names:
        while True:
            call = _find_call(out, fn)
            if call is None:
                break
            start, end, args = call
            if not args:
                # Zero-arg fold default: CityHash64 of nothing == k2.
                repl = "CAST(11160318154034397263 AS DECIMAL(20,0))"
            else:
                repl = f"bh_cityhash64_row(struct({', '.join(args)}))"
            out = out[:start] + repl + out[end:]
    # The flagship checksum shape sum(cityHash64(*)) must WRAP like
    # ClickHouse's sum(UInt64) (mod 2^64) to compare against a live
    # CH checksum — per-row hashes average 2^63, so any 3-row table
    # overflows. The wrap applies to ANY sum whose argument contains
    # the exact hash (plain, sumIf's CASE form, DISTINCT), and goes
    # OUTSIDE a windowed sum's OVER clause (Spark's grammar only
    # allows OVER directly after the aggregate call).
    if "bh_cityhash64_row" in out:
        pos = 0
        while True:
            call = _find_call(out, "sum", pos)
            if call is None:
                break
            start, end, args = call
            pos = start + 1
            if len(args) != 1 or "bh_cityhash64_row(" not in args[0]:
                continue
            expr_end = end
            m_over = re.match(r"\s*OVER\s*", out[end:], re.IGNORECASE)
            if m_over:
                j = end + m_over.end()
                if j < len(out) and out[j] == "(":
                    depth, i, quote = 1, j + 1, None
                    while i < len(out) and depth > 0:
                        c = out[i]
                        if quote:
                            if c == quote:
                                quote = None
                        elif c in "'\"":
                            quote = c
                        elif c == "(":
                            depth += 1
                        elif c == ")":
                            depth -= 1
                        i += 1
                    expr_end = i
                else:
                    m_name = re.match(r"[A-Za-z_]\w*", out[j:])
                    if m_name:
                        expr_end = j + m_name.end()
            inner = out[start:expr_end]
            repl = (
                f"CAST(pmod({inner}, CAST("
                f"18446744073709551616 AS DECIMAL(38,0))) "
                f"AS DECIMAL(20,0))"
            )
            out = out[:start] + repl + out[expr_end:]
            # Skip past the replacement — it contains sum(bh_...)
            # itself and must not be wrapped twice.
            pos = start + len(repl)
    return out


_IN_FRAME_UNBOUNDED_RE = re.compile(
    r"\s*(ROWS|RANGE)\s+BETWEEN\s+UNBOUNDED\s+PRECEDING\s+AND\s+"
    r"UNBOUNDED\s+FOLLOWING\s*$",
    re.IGNORECASE,
)
# Shorthand frame `ROWS UNBOUNDED PRECEDING` (end = CURRENT ROW).
# lag only looks backward, so this frame is a no-op for lagInFrame;
# for leadInFrame the target row is OUTSIDE it (always the default) —
# stripping would change results, so lead refuses it.
_IN_FRAME_PRECEDING_RE = re.compile(
    r"\s*(ROWS|RANGE)\s+(BETWEEN\s+UNBOUNDED\s+PRECEDING\s+AND\s+"
    r"CURRENT\s+ROW|UNBOUNDED\s+PRECEDING)\s*$",
    re.IGNORECASE,
)
# A genuine frame clause (not just a column NAMED rows/range): the
# keyword must be followed by a frame-boundary token.
_FRAME_CLAUSE_RE = re.compile(
    r"\b(ROWS|RANGE)\s+(BETWEEN|UNBOUNDED|CURRENT|\d)",
    re.IGNORECASE,
)


def _rewrite_in_frame(sql: str) -> str:
    """CH ``lagInFrame``/``leadInFrame`` → ``lag``/``lead``. CH's
    variants respect the window frame; Spark's lag/lead reject one.
    Frames that don't change the result are stripped (UNBOUNDED both
    ways for either; UNBOUNDED PRECEDING for lag, which only looks
    backward); any frame that would change results refuses with the
    offset spelling. Named windows (``OVER w``) pass through with the
    function renamed — Spark resolves the WINDOW clause itself."""
    out = sql
    for ch, sp in (("lagInFrame", "lag"), ("leadInFrame", "lead")):
        while True:
            call = _find_call(out, ch)
            if call is None:
                break
            start, end, args = call
            m = re.match(r"\s*OVER\s*\(", out[end:], re.IGNORECASE)
            if not m:
                named = re.match(
                    r"\s*OVER\s+([A-Za-z_]\w*)", out[end:], re.IGNORECASE
                )
                if not named:
                    raise ValueError(f"{ch}() requires an OVER clause")
                # If the referenced WINDOW definition carries a frame,
                # Spark will reject lag/lead over it — and stripping
                # there would change OTHER users of the same window.
                wname = named.group(1)
                wdef = re.search(
                    rf"\bWINDOW\s+{wname}\s+AS\s*\(([^()]*)\)",
                    out,
                    re.IGNORECASE,
                )
                if wdef and _FRAME_CLAUSE_RE.search(wdef.group(1)):
                    raise ValueError(
                        f"{ch}() OVER {wname}: the named window "
                        "carries a frame; inline the OVER (...) spec "
                        f"for {sp} so the frame can be stripped "
                        "without affecting other users of the window"
                    )
                out = (
                    out[:start]
                    + f"{sp}({', '.join(args)})"
                    + out[end:]
                )
                continue
            spec_start = end + m.end()
            # Quote-aware paren scan: string literals in the window
            # spec may contain parens.
            depth, i, quote = 1, spec_start, None
            while i < len(out) and depth > 0:
                c = out[i]
                if quote:
                    if c == quote:
                        quote = None
                elif c in "'\"":
                    quote = c
                elif c == "(":
                    depth += 1
                elif c == ")":
                    depth -= 1
                i += 1
            spec = out[spec_start : i - 1]
            stripped = _IN_FRAME_UNBOUNDED_RE.sub("", spec)
            if ch == "lagInFrame":
                stripped = _IN_FRAME_PRECEDING_RE.sub("", stripped)
            if _FRAME_CLAUSE_RE.search(stripped):
                raise ValueError(
                    f"{ch}() with this frame has no Spark "
                    "equivalent; express the frame bound as the "
                    f"{sp} offset instead"
                )
            out = (
                out[:start]
                + f"{sp}({', '.join(args)}) OVER ({stripped})"
                + out[i:]
            )
    return out


# CH function heads that always return Array — used to dispatch the
# overloaded CH ``length()`` (strings AND arrays) at transpile time,
# since Spark splits it into length()/size() and the wrong pick fails
# analysis. Every head requires its "(" so bare column refs (and
# columns named array_* / topk_*) stay on the string path, and the
# array* family is ENUMERATED: scalar/String-returning heads
# (arrayStringConcat, arraySum, arrayExists, arrayCount, arrayUniq,
# arrayReduce, arrayFold, ...) must NOT match. splitBy*/groupArray*/
# topK* are array-returning across their whole families, so those
# take a \w* tail.
_ARRAY_HEAD_RE = re.compile(
    r"^(?:"
    r"array|arraymap|arrayfilter|arraysort|arrayreversesort"
    r"|arrayconcat|arraydistinct|arrayslice|arrayflatten"
    r"|arraycompact|arrayresize|arraypushback|arraypushfront"
    r"|arraypopback|arraypopfront|arrayreverse|arrayintersect"
    r"|arrayenumerate|arrayenumeratedense|arrayenumerateuniq"
    r"|arrayzip|arraydifference|arraycumsum|arraycumsumnonnegative"
    r"|arrayfill|arrayreversefill|arraysplit|arrayreversesplit"
    r"|arrayshuffle|arraypartialshuffle"
    r"|arraypartialsort|arraypartialreversesort"
    r"|arrayrotateleft|arrayrotateright|arrayshiftleft"
    r"|arrayshiftright|arraywithconstant|arrayrandomsample"
    r"|arraysymmetricdifference"
    r"|splitby\w+|grouparray\w*|topk\w*"
    r"|range|sequence|extractall|collect_list|collect_set"
    r"|map_keys|map_values|mapkeys|mapvalues|slice|ngrams"
    r"|alphatokens|tokens|geohashesinbox|bitmaptoarray|timeslots"
    # Spark-spelled array-returning heads (mixed spellings are
    # accepted everywhere else, so length() must dispatch them too);
    # scalar-returning array_* (array_contains/position/max/min/
    # size/join) stay on the string path.
    r"|array_distinct|array_sort|array_union|array_intersect"
    r"|array_except|array_remove|array_compact|array_repeat"
    r"|array_insert|array_prepend|array_append|arrays_zip"
    # (transform( is EXCLUDED: CH's 3/4-arg transform is the scalar
    # value-mapping function, not Spark's array transform)
    r"|array_agg|sort_array|shuffle|flatten|filter"
    r"|zip_with|split"
    r")\(",
)


def _rewrite_length_arrays(sql: str) -> str:
    """CH ``length(x)`` / ``empty(x)`` / ``notEmpty(x)`` are
    overloaded over String AND Array; Spark is not (length=chars,
    size=array). When the argument is SYNTACTICALLY an array — a
    ``[...]`` literal or a call to a known array-returning head —
    dispatch to size() here, before array literals are rewritten and
    before the string-flavor wrap rewrites run. notEmpty processes
    before empty (shared suffix)."""
    out = sql
    for head, tmpl in (
        ("length", "size({0})"),
        ("notEmpty", "(size({0}) > 0)"),
        ("empty", "(size({0}) = 0)"),
    ):
        pos = 0
        while True:
            call = _find_call(out, head, pos)
            if call is None:
                break
            start, end, args = call
            if len(args) != 1:
                pos = end
                continue
            arg = args[0].strip().lower()
            if arg.startswith("[") or _ARRAY_HEAD_RE.match(arg):
                out = (
                    out[:start] + tmpl.format(args[0]) + out[end:]
                )
            else:
                pos = end
    return out


def _rewrite_functions(sql: str, exact_cityhash: bool = False) -> str:
    out = _rewrite_length_arrays(sql)
    out = _rewrite_array_literals(out)
    out = _rewrite_subscripts(out)
    # count() → count(*)  (CH zero-arg count); quote-shielded
    out = _sub_outside_quotes(
        r"\bcount\(\s*\)", "count(*)", out, flags=re.IGNORECASE
    )
    # -SimpleState is the identity combinator (a
    # SimpleAggregateFunction's state IS its value); strip it BEFORE
    # the contextual pass so anySimpleState → any gets the CH-any →
    # any_value treatment.
    if "SimpleState" in out:
        out = _sub_outside_quotes(
            r"\b([A-Za-z_]\w*)SimpleState\s*\(", r"\1(", out
        )
    out = _rewrite_contextual(out)
    out = _rewrite_stacked_combinators(out)
    out = _rewrite_if_combinators(out)
    out = _rewrite_suffix_combinators(out)
    out = _rewrite_parametric(out)
    if "InFrame" in out:
        out = _rewrite_in_frame(out)
    if "::" in out or re.search(r"\b(TRY_)?CAST\s*\(", out, re.IGNORECASE):
        out = _rewrite_cast_types(out)
    out = _rewrite_cityhash_exact(out, exact=exact_cityhash)
    for fn in _HASH_FUNCS:
        out = _wrap_calls(
            out, fn, "CAST(xxhash64(", ") AS DECIMAL(38,0))"
        )
    # Cheap substring gates before each per-function pass: the
    # tables hold hundreds of names, a given query uses a handful.
    low = out.lower()
    for ch, ty in _CAST_FUNCS.items():
        if ch.lower() not in low:
            continue
        # Paren-balanced walk, not a [^()]* regex: the cast wrappers
        # routinely take nested calls (toString(generateUUIDv4())),
        # which a flat pattern silently leaves unrewritten.
        pos = 0
        changed = False
        while True:
            call = _find_call(out, ch, pos)
            if call is None:
                break
            start, end, args = call
            if len(args) != 1:
                pos = end  # multi-arg forms are handled elsewhere
                continue
            out = out[:start] + f"CAST({args[0]} AS {ty})" + out[end:]
            changed = True
        if changed:
            low = out.lower()
    for ch, (pre, suf) in _WRAP_FUNCS.items():
        if ch.lower() not in low:
            continue
        out2 = _wrap_calls(out, ch, pre, suf)
        if out2 != out:
            out, low = out2, out2.lower()
    # countState() unwraps to a bare count() AFTER the early
    # count() → count(*) pass already ran — repeat it here.
    out = _sub_outside_quotes(
        r"\bcount\(\s*\)", "count(*)", out, flags=re.IGNORECASE
    )
    # ORDER BY <expr> COLLATE 'locale': CH's ICU locale sort maps to
    # Spark 4 collations — 'en_US'-style tags normalize to their
    # language ('en'), which Spark's ICU table accepts; unknown tags
    # fall back to root UNICODE ordering at runtime via the language
    # normalization, never a silent drop of the clause.
    def _collate_sub(m: "re.Match[str]") -> str:
        loc = m.group(2).strip().strip("'\"")
        lang = loc.split("_")[0].split("-")[0] or "UNICODE"
        return f"collate(CAST({m.group(1)} AS STRING), '{lang}')"

    out = re.sub(
        r"((?:[A-Za-z_][\w.]*\s*\((?:[^()]|\([^()]*\))*\))"
        r"|[A-Za-z_][\w.]*|`[^`]+`)"
        r"\s+COLLATE\s+('[^']*'|\"[^\"]*\")",
        _collate_sub,
        out,
    )
    leftover = re.search(r"\bCOLLATE\s+['\"]", out, re.IGNORECASE)
    if leftover and not _inside_string_literal(out, leftover.start()):
        raise ValueError(
            "COLLATE after this expression shape is not rewritten; "
            "spell it directly as collate(<expr>, '<lang>') in the "
            "ORDER BY"
        )
    # SHOW FUNCTIONS LIKE '<pat>': CH's pattern is SQL LIKE, Spark's
    # is a glob — translate % -> * and _ -> ? so the filter actually
    # matches instead of silently returning nothing.
    m_sf = re.match(
        r"^(\s*SHOW\s+FUNCTIONS\s+(?:I?LIKE)\s+)'([^']*)'\s*$",
        out,
        re.IGNORECASE,
    )
    if m_sf:
        glob = m_sf.group(2).replace("%", "*").replace("_", "?")
        # ILIKE may arrive in any case — rebuild the prefix outright
        # (Spark only parses SHOW FUNCTIONS LIKE).
        out = f"SHOW FUNCTIONS LIKE '{glob}'"
    # view(SELECT ...) table function: a transparent subquery wrapper
    # (CH uses it to force a subquery where a table is expected) —
    # drop the wrapper. numbers_mt is numbers with CH's multithreaded
    # reader; parallelism is Spark's job here, so it is an alias.
    out = re.sub(
        r"(\bFROM\s+|\bJOIN\s+)view\s*\(", r"\1(", out,
        flags=re.IGNORECASE,
    )
    out = re.sub(
        r"\bnumbers_mt\s*\(", "numbers(", out, flags=re.IGNORECASE
    )
    # INTERVAL n QUARTER: Spark's interval grammar has no QUARTER
    # unit — fold literal counts into months.
    out = re.sub(
        r"\bINTERVAL\s+(\d+)\s+QUARTERS?\b",
        lambda m: f"INTERVAL {3 * int(m.group(1))} MONTH",
        out,
        flags=re.IGNORECASE,
    )
    # INTERVAL <expr> UNIT with a NON-literal quantity (CH allows any
    # expression; Spark's literal grammar does not) → make_dt_interval
    # / make_ym_interval. Conservative expr shapes: identifier chains,
    # one function call, or a parenthesized group. NOTE the day-time
    # results are DayTimeIntervalType, so date + INTERVAL col DAY
    # widens to TIMESTAMP (CH keeps Date) — cast back if needed.
    def _interval_expr(m: re.Match) -> str:
        e, unit = m.group(1), m.group(2).upper()
        return {
            "SECOND": f"make_dt_interval(0, 0, 0, CAST({e} AS DOUBLE))",
            "MINUTE": f"make_dt_interval(0, 0, CAST({e} AS INT))",
            "HOUR": f"make_dt_interval(0, CAST({e} AS INT))",
            "DAY": f"make_dt_interval(CAST({e} AS INT))",
            "WEEK": f"make_dt_interval(CAST(({e}) * 7 AS INT))",
            "MONTH": f"make_ym_interval(0, CAST({e} AS INT))",
            "QUARTER": f"make_ym_interval(0, CAST(({e}) * 3 AS INT))",
            "YEAR": f"make_ym_interval(CAST({e} AS INT))",
        }[unit]

    # _sub_outside_quotes (not _sub_unquoted): the match may contain
    # a quoted span (INTERVAL toUInt8('3') DAY) but must not START
    # inside one ('wait INTERVAL x DAY' stays verbatim).
    out = _sub_outside_quotes(
        r"\bINTERVAL\s+((?!\d)(?:[A-Za-z_][\w.]*\s*\([^()]*\)"
        r"|[A-Za-z_][\w.]*|\([^()]*\)))\s+"
        r"(SECOND|MINUTE|HOUR|DAY|WEEK|MONTH|QUARTER|YEAR)S?\b",
        _interval_expr,
        out,
        flags=re.IGNORECASE,
    )
    # generate_series/generateSeries(start, stop[, step]): INCLUSIVE
    # stop (CH matches postgres here), column named generate_series.
    while True:
        call = _find_call(out, "generate_series") or _find_call(
            out, "generateSeries"
        )
        if call is None:
            break
        start, end, args = call
        if len(args) == 2:
            rng = f"range({args[0]}, ({args[1]}) + 1)"
        elif len(args) == 3:
            rng = (
                f"range({args[0]}, ({args[1]}) + 1, {args[2]})"
            )
        else:
            raise ValueError(
                "generate_series(start, stop[, step]) takes 2-3 "
                f"arguments, got {len(args)}"
            )
        out = (
            out[:start]
            + f"(SELECT id AS generate_series FROM {rng})"
            + out[end:]
        )
    # numbers(N) → range(N); numbers(start, N) → range(start,
    # start+N) (CH second arg is a COUNT, Spark's is an end bound).
    # CH's column is `number`; range's is `id`.
    while True:
        call = _find_call(out, "numbers")
        if call is None:
            break
        start, end, args = call
        if len(args) == 1:
            rng = f"range({args[0]})"
        elif len(args) == 2:
            rng = f"range({args[0]}, ({args[0]}) + ({args[1]}))"
        else:
            raise ValueError(f"numbers() takes 1-2 args, got {args}")
        out = (
            out[:start]
            + f"(SELECT id AS number FROM {rng})"
            + out[end:]
        )
    out = _rewrite_json_funcs(out)
    low = out.lower()
    for fn, builder in _ARG_REWRITES.items():
        if fn.lower() not in low:
            continue
        changed = False
        pos = 0
        while True:
            call = _find_call(out, fn, pos)
            if call is None:
                break
            changed = True
            start, end, args = call
            try:
                repl = builder(args)
            except _SkipRewrite:
                # Builder decided this call shape is already valid
                # Spark (e.g. two-arg trunc(date, fmt)) — leave it.
                pos = start + 1
                continue
            except IndexError:
                raise ValueError(f"{fn}(): wrong number of arguments: {args}")
            out = out[:start] + repl + out[end:]
            # Resume just past the match start: nested calls inside
            # repl still get found, but a replacement that begins
            # with a case-variant of fn itself (timestampDiff →
            # timestampdiff) cannot re-match forever.
            pos = start + 1
        if changed:
            low = out.lower()
    # Plain-text zero-arg and rename tables, quote-shielded (round
    # 13): a literal like 'today()' or 'toDate(x)' keeps its spelling.
    for zero, repl in _ZERO_ARG.items():
        if zero not in out:
            continue
        out = _sub_outside_quotes(
            re.compile(re.escape(zero)), lambda m, _r=repl: _r, out
        )
    low = out.lower()
    for ch, sp in _FUNC_RENAMES.items():
        if ch.lower() not in low:
            continue
        if "(" in sp:  # special rewrite like date_trunc
            out2 = _sub_outside_quotes(_rename_pattern(ch), sp, out)
        else:
            out2 = _sub_outside_quotes(
                _rename_pattern(ch), f"{sp}(", out
            )
        if out2 != out:
            out, low = out2, out2.lower()
    # LAST resort, after every specific rewrite and refusal has had
    # its chance: any name(params)(args) still standing is an
    # unserved CH parametric aggregate; a KNOWN parametric head
    # standing as a bare single call is a missing parameter group.
    _bare_parametric_guard(out)
    _unknown_parametric_guard(out)
    return out


# CH QUALIFY <cond>: filter on window-function results (the clause
# Spark lacks). Standard rewrite: wrap the query and filter outside —
# the condition must reference select-list ALIASES (e.g. `rn = 1`
# after `row_number() OVER (...) AS rn`), which is also the readable
# form. Trailing ORDER BY/LIMIT stay outside the wrap.
_QUALIFY_RE = re.compile(
    r"\bQUALIFY\s+(.+?)(?=\s+ORDER\s+BY\b|\s+LIMIT\b|\s*$)",
    re.IGNORECASE | re.DOTALL,
)


def _rewrite_qualify(sql: str) -> str:
    # masked gate + locate: 'QUALIFY rn = 1' in a literal is data
    masked = _mask_quoted_spans(sql)
    if not re.search(r"\bQUALIFY\b", masked, re.IGNORECASE):
        return sql
    m = _QUALIFY_RE.search(masked)
    if m is None:
        return sql
    # the condition may itself hold literals — slice the raw text
    cond = sql[m.start(1):m.end(1)].strip()
    head, tail = sql[: m.start()].rstrip(), sql[m.end():].strip()
    out = f"SELECT * FROM ({head}) AS __bh_qf WHERE {cond}"
    return f"{out} {tail}" if tail else out


# CH LIMIT n WITH TIES: keep every row tying with the n-th on the
# ORDER BY key. Spark has no WITH TIES; the standard rewrite is a
# rank() window + filter, with `* EXCEPT` hiding the helper column.
# Scale note: the unpartitioned rank() window sorts on ONE reducer —
# the same cliff as any global total-order op; fine for the top-n
# shapes WITH TIES exists for (n is small), and the heavy lifting
# (the filter's child) still runs distributed.
_LIMIT_TIES_RE = re.compile(
    r"\bORDER\s+BY\s+(.+?)\s+LIMIT\s+(\d+)\s+WITH\s+TIES\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _rewrite_limit_ties(sql: str) -> str:
    # masked gate + locate: 'LIMIT 3 WITH TIES' in a literal is data
    masked = _mask_quoted_spans(sql)
    if not re.search(r"\bWITH\s+TIES\b", masked, re.IGNORECASE):
        return sql
    m = _LIMIT_TIES_RE.search(masked)
    if m is None:
        raise ValueError(
            "WITH TIES: supported form is a final ORDER BY ... LIMIT n "
            "WITH TIES"
        )
    # the ORDER BY expression may itself hold literals — slice raw
    order, n = sql[m.start(1):m.end(1)].strip(), int(m.group(2))
    inner = sql[: m.start()].rstrip()
    return (
        f"SELECT * EXCEPT (__bh_rk) FROM ("
        f"SELECT *, rank() OVER (ORDER BY {order}) AS __bh_rk "
        f"FROM ({inner})"
        f") WHERE __bh_rk <= {n} ORDER BY {order}"
    )


# CH ORDER BY <col> WITH FILL [FROM f] [TO t] [STEP s]: densify the
# ordered result by inserting rows for missing key values, other
# columns taking their type defaults (CH semantics: 0 / '' — here:
# 0 for numerics, '' for strings, NULL otherwise). Spark-first
# rewrite: a sequence() spine LEFT JOINed to the query, bounds
# defaulting to the query's own min/max (one extra tiny aggregate
# over the registered inner view — not an extra scan of the source,
# Catalyst reuses the view plan). Integral and date/timestamp fill
# columns only (Spark sequence()'s domain); single fill column (CH
# allows several; rare, raises the actionable error).
_WITH_FILL_RE = re.compile(
    r"\bORDER\s+BY\s+([`\"]?\w+[`\"]?)\s+WITH\s+FILL"
    r"(?:\s+FROM\s+(\S+))?(?:\s+TO\s+(\S+))?"
    r"(?:\s+STEP\s+(INTERVAL\s+\d+\s+\w+|\S+))?\s*$",
    re.IGNORECASE,
)
_INTERPOLATE_TAIL_RE = re.compile(
    r"\bINTERPOLATE\s*(\()?", re.IGNORECASE
)


def _detach_interpolate(sql: str) -> tuple[str, list[tuple[str, str]] | None]:
    """Split a TRAILING ``INTERPOLATE [(col [AS expr], ...)]`` clause
    off the statement. Returns (sql_without_clause, items) where
    items is None when no trailing clause exists (the word appearing
    mid-statement — a literal, a column name — is NOT a clause), []
    for the bare form (= carry every non-fill column forward), else
    [(col, expr)] pairs."""
    last = None
    for cand in re.finditer(r"\bINTERPOLATE\b", sql, re.IGNORECASE):
        last = cand
    if last is None or _inside_string_literal(sql, last.start()):
        return sql, None
    rest = sql[last.end():]
    if not rest.strip():
        return sql[: last.start()].rstrip(), []
    r = rest.lstrip()
    if not r.startswith("("):
        return sql, None  # mid-statement word, not a clause
    depth = 0
    j = 0
    for j, c in enumerate(r):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                break
    if depth != 0 or r[j + 1:].strip():
        return sql, None  # not a balanced final clause
    body = r[1:j]
    items: list[tuple[str, str]] = []
    for part in _split_args_top(body):
        part = part.strip()
        if not part:
            continue
        mm = re.match(
            r"^([`\"]?\w+[`\"]?)(?:\s+AS\s+(.+))?$",
            part,
            re.IGNORECASE | re.DOTALL,
        )
        if not mm:
            raise ValueError(
                f"INTERPOLATE: cannot parse item {part!r}; the "
                "supported form is col [AS expr]"
            )
        name = mm.group(1).strip('`"')
        items.append((name, (mm.group(2) or name).strip()))
    return sql[: last.start()].rstrip(), items


def _rewrite_with_fill(
    sql: str, spark: SparkSession | None, views: list[str]
) -> str:
    # masked gate: 'WITH FILL FROM 1' inside a literal is data
    if not re.search(r"\bWITH\s+FILL\b", _mask_quoted_spans(sql),
                     re.IGNORECASE):
        # A bare INTERPOLATE word (a literal, a column named
        # interpolate) is NOT a clause — pass through untouched; a
        # real misused clause surfaces Spark's parse error.
        return sql
    sql, interpolate = _detach_interpolate(sql)
    m = _WITH_FILL_RE.search(sql)
    if m is None or spark is None:
        raise ValueError(
            "WITH FILL: supported form is a final ORDER BY <col> WITH "
            "FILL [FROM x] [TO y] [STEP s] (single fill column, with a "
            "SparkSession); otherwise build the spine explicitly — "
            "sequence()/range() LEFT JOIN the aggregate (the "
            "window_gapfill_hourly query shape)"
        )
    col, frm, to, step = m.groups()
    col = col.strip('`"')
    inner_sql = sql[: m.start()].rstrip()
    inner = spark.sql(inner_sql)
    view = f"__bh_fill_{next(_VIEW_COUNTER)}"
    inner.createOrReplaceTempView(view)
    views.append(view)
    dtypes = dict(inner.dtypes)
    if col not in dtypes:
        raise ValueError(f"WITH FILL: {col} is not in the select list")
    kind = dtypes[col]
    if kind not in ("tinyint", "smallint", "int", "bigint", "date",
                    "timestamp", "timestamp_ntz"):
        raise ValueError(
            f"WITH FILL: fill column must be integral or date/"
            f"timestamp (sequence() domain), got {col}: {kind}"
        )
    if step is None:
        step = "INTERVAL 1 DAY" if kind == "date" else (
            "INTERVAL 1 HOUR" if kind.startswith("timestamp") else "1"
        )
    # CH's TO bound is exclusive; min/max defaults are inclusive.
    # Generate the spine up to TO inclusive, then filter `< TO` —
    # subtracting a whole step would drop the last spine value
    # whenever step does not divide (to - from).
    lo = frm if frm else f"(SELECT min({col}) FROM {view})"
    hi = to if to else f"(SELECT max({col}) FROM {view})"
    spine = f"(SELECT explode(sequence({lo}, {hi}, {step})) AS `{col}`)"
    if to:
        spine = f"(SELECT `{col}` FROM {spine} WHERE `{col}` < {to})"
    # Type defaults (0 / '') apply ONLY to spine-inserted rows — CH
    # leaves NULLs in original result rows untouched, so key on the
    # join miss (view's fill column NULL), not on the value itself.
    miss = f"{view}.`{col}` IS NULL"
    fills = []
    for c, t in inner.dtypes:
        if c == col:
            continue
        if t in ("tinyint", "smallint", "int", "bigint", "float",
                 "double") or t.startswith("decimal"):
            fills.append(
                f"CASE WHEN {miss} THEN 0 ELSE {view}.`{c}` END AS `{c}`"
            )
        elif t == "string":
            fills.append(
                f"CASE WHEN {miss} THEN '' ELSE {view}.`{c}` END AS `{c}`"
            )
        else:
            fills.append(f"{view}.`{c}`")
    sel = ", ".join([f"__bh_spine.`{col}`"] + fills)
    if interpolate is None:
        return (
            f"SELECT {sel} FROM {spine} "
            f"AS __bh_spine LEFT JOIN {view} "
            f"ON __bh_spine.`{col}` = {view}.`{col}` "
            f"ORDER BY __bh_spine.`{col}`"
        )
    # INTERPOLATE (c [AS expr], ...): spine-inserted rows take, for
    # each listed column, expr applied to the PREVIOUS row's value —
    # a per-gap recurrence. Spark-first shape: one running count of
    # real rows assigns each filled row to the gap opened by the last
    # real row (__bh_grp); within the gap, the k-th filled row folds
    # expr k times over the gap-opening real value
    # (aggregate(sequence(1, k), base, acc -> expr[c := acc])) — no
    # collect, two window passes, O(gap) per row only when expr is
    # non-identity. Exprs may reference ONLY the interpolated column
    # (CH evaluates them over the previous row, whose other columns
    # may themselves be interpolated — that general recurrence has no
    # bounded plan). Bare INTERPOLATE carries every non-fill column
    # forward unchanged. Filled rows BEFORE the first real row keep
    # the type default (no previous row — CH semantics).
    other_cols = [c for c, _ in inner.dtypes if c != col]
    if interpolate == []:
        interpolate = [(c, c) for c in other_cols]
    for c, _ in interpolate:
        if c == col:
            raise ValueError(
                "INTERPOLATE: the WITH FILL column itself cannot be "
                "interpolated"
            )
        if c not in dtypes:
            raise ValueError(
                f"INTERPOLATE: {c} is not in the select list"
            )
    interp_names = {c for c, _ in interpolate}
    base_sel = sel + f", CASE WHEN {miss} THEN 1 ELSE 0 END AS __bh_miss"
    filled = (
        f"SELECT {base_sel} FROM {spine} "
        f"AS __bh_spine LEFT JOIN {view} "
        f"ON __bh_spine.`{col}` = {view}.`{col}`"
    )
    grp = (
        f"SELECT *, sum(1 - __bh_miss) OVER (ORDER BY `{col}` "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
        f"AS __bh_grp FROM ({filled})"
    )
    base_exprs = [
        "*",
        f"row_number() OVER (PARTITION BY __bh_grp ORDER BY `{col}`) "
        f"- 1 AS __bh_k",
    ]
    for i, (c, _) in enumerate(interpolate):
        base_exprs.append(
            f"first_value(`{c}`) OVER (PARTITION BY __bh_grp "
            f"ORDER BY `{col}`) AS __bh_base_{i}"
        )
    staged = f"SELECT {', '.join(base_exprs)} FROM ({grp})"
    out_cols = []
    for c in [col] + other_cols:
        if c not in interp_names:
            out_cols.append(f"`{c}`")
            continue
        i = next(i for i, (n, _) in enumerate(interpolate) if n == c)
        expr = interpolate[i][1]
        t_sql = dtypes[c].upper()
        if expr.strip().strip('`"') == c:
            fold = f"CAST(__bh_base_{i} AS {t_sql})"
        else:
            sub = re.sub(
                rf"(?<![\w`\"]){re.escape(c)}(?![\w`\"])",
                "__bh_acc",
                expr,
            )
            for other in dtypes:
                if other != c and re.search(
                    rf"(?<![\w`\"]){re.escape(other)}(?![\w`\"])", sub
                ):
                    raise ValueError(
                        f"INTERPOLATE: expression for {c} references "
                        f"column {other}; only the interpolated "
                        "column itself may appear (the previous "
                        "row's other columns may themselves be "
                        "interpolated — an unbounded recurrence)"
                    )
            fold = (
                f"aggregate(sequence(1, __bh_k), "
                f"CAST(__bh_base_{i} AS {t_sql}), "
                f"(__bh_acc, __bh_i) -> CAST(({sub}) AS {t_sql}))"
            )
        out_cols.append(
            f"CASE WHEN __bh_miss = 1 AND __bh_grp >= 1 "
            f"THEN {fold} ELSE `{c}` END AS `{c}`"
        )
    return (
        f"SELECT {', '.join(out_cols)} FROM ({staged}) "
        f"ORDER BY `{col}`"
    )


# CH ASOF JOIN (reference surface: full-CH-SQL delegation family).
# Canonical form:
#   FROM t1 [AS a] ASOF [LEFT] JOIN t2 [AS b]
#     ON a.k = b.k [AND ...] AND a.ts >= b.ts
# The inequality picks direction/strictness (>= backward, > backward
# strict, <= forward, < forward strict — CH semantics). The joined
# pair is materialized through operators.asof.asof_join (single
# shuffle, union+window) as a temp view, the FROM clause is rewritten
# to it, and qualified a./b. references in the rest of the query are
# re-pointed at the view's flat columns (right-side collisions carry
# the operator's "_right" suffix).
_ASOF_RE = re.compile(
    r"\bFROM\s+(\w+)(?:\s+(?:AS\s+)?(?!ASOF\b)(\w+))?"
    r"\s+ASOF\s+(LEFT\s+)?JOIN\s+"
    r"(\w+)(?:\s+(?:AS\s+)?(?!ON\b)(\w+))?\s+ON\s+(.*?)"
    r"(?=\s+(?:WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|SETTINGS)\b|$)",
    re.IGNORECASE | re.DOTALL,
)
_ASOF_COND_RE = re.compile(
    r"^\s*(\w+)\.(\w+)\s*(>=|<=|=|<|>)\s*(\w+)\.(\w+)\s*$"
)


def _rewrite_asof_join(
    sql: str, spark: SparkSession | None, views: list[str]
) -> str:
    if not re.search(r"\bASOF\s+(LEFT\s+)?JOIN\b", sql, re.IGNORECASE):
        return sql
    unsupported = ValueError(
        "ASOF JOIN: supported form is FROM t1 [AS a] ASOF [LEFT] JOIN "
        "t2 [AS b] ON a.k = b.k [AND ...] AND a.ts >= b.ts (or >, <=, "
        "<). For other shapes use "
        "bighouse_spark.operators.asof.asof_join directly "
        "(single-shuffle union+window; backward/forward/tolerance)."
    )
    out = sql
    while (m := _ASOF_RE.search(out)) is not None:
        if spark is None:
            raise ValueError(
                "ASOF JOIN requires a SparkSession to transpile"
            )
        t1, a1, left_kw, t2, a2, conds = m.groups()
        la, ra = (a1 or t1), (a2 or t2)
        keys: list[tuple[str, str]] = []
        time_pair: tuple[str, str, str] | None = None  # lcol, rcol, op
        for cond in re.split(r"\s+AND\s+", conds.strip(), flags=re.IGNORECASE):
            cm = _ASOF_COND_RE.match(cond)
            if cm is None:
                raise unsupported
            q1, c1, op, q2, c2 = cm.groups()
            if {q1, q2} != {la, ra}:
                raise unsupported
            if q1 == ra:  # normalize to left-side-first
                q1, c1, q2, c2 = q2, c2, q1, c1
                op = {">": "<", "<": ">", ">=": "<=", "<=": ">="}.get(op, op)
            if op == "=":
                keys.append((c1, c2))
            elif time_pair is None:
                time_pair = (c1, c2, op)
            else:
                raise unsupported  # two inequalities
        if time_pair is None or not keys:
            raise unsupported
        lt, rt, op = time_pair
        direction = "backward" if op in (">=", ">") else "forward"
        strict = op in (">", "<")
        from bighouse_spark.operators.asof import asof_join

        left_df, right_df = spark.table(t1), spark.table(t2)
        orig_right_cols = list(right_df.columns)
        for lcol, rcol in keys:
            if rcol != lcol:
                right_df = right_df.withColumnRenamed(rcol, lcol)
        rt_renamed = rt
        joined = asof_join(
            left_df, right_df, on=[k for k, _ in keys],
            left_time=lt, right_time=rt_renamed,
            strict=strict, direction=direction,
        )
        rt_out = rt_renamed + "_right" if rt_renamed in left_df.columns \
            else rt_renamed
        if not left_kw:  # CH ASOF JOIN (no LEFT) is inner: drop misses
            joined = joined.where(f"{rt_out} IS NOT NULL")
        view = f"__bh_asof_{next(_VIEW_COUNTER)}"
        joined.createOrReplaceTempView(view)
        views.append(view)
        out = out[: m.start()] + f"FROM {view}" + out[m.end():]

        # Re-point qualified references. Left alias: strip. Right
        # alias: key cols map to the (possibly renamed) left name;
        # value/time cols carry the operator's collision suffix.
        # Substitution skips string literals and any subquery that
        # rebinds the same alias, so `WHERE note = 'a.ts'` or an
        # unrelated `(SELECT ... FROM other a ...)` stays untouched.
        r_key_map = {rc: lc for lc, rc in keys}
        r_to_flat = {
            c: r_key_map.get(
                c, c + "_right" if c in left_df.columns else c
            )
            for c in orig_right_cols
        }
        out = _sub_alias_refs(out, la, lambda c: c)
        out = _sub_alias_refs(out, ra, lambda c: r_to_flat.get(c, c))
    return out


def _alias_protected_spans(sql: str, alias: str) -> list[tuple[int, int]]:
    """Spans of parenthesized subqueries that rebind ``alias`` via
    their own FROM/JOIN — qualified refs inside them belong to that
    binding, not to the ASOF pair being flattened."""
    rebind = re.compile(
        rf"\b(?:FROM|JOIN)\s+[\w.]+\s+(?:AS\s+)?{re.escape(alias)}\b",
        re.IGNORECASE,
    )
    spans: list[tuple[int, int]] = []
    for m in re.finditer(r"\(\s*SELECT\b", sql, re.IGNORECASE):
        depth, i, quote = 0, m.start(), None
        while i < len(sql):
            c = sql[i]
            if quote:
                if c == quote:
                    quote = None
            elif c in "'\"":
                quote = c
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
            i += 1
        span = (m.start(), i + 1)
        if rebind.search(sql[span[0]: span[1]]):
            spans.append(span)
    return spans


def _sub_alias_refs(sql: str, alias: str, col_map) -> str:
    """Replace ``alias.col`` with ``col_map(col)`` outside string
    literals and outside subqueries that rebind ``alias``."""
    protected = _alias_protected_spans(sql, alias)
    pat = re.compile(rf"\b{re.escape(alias)}\.(\w+)")
    pieces: list[str] = []
    i, quote = 0, None
    last = 0
    while i < len(sql):
        c = sql[i]
        if quote:
            if c == quote:
                quote = None
            i += 1
            continue
        if c in "'\"":
            quote = c
            i += 1
            continue
        m = pat.match(sql, i)
        if m and not any(s <= i < e for s, e in protected):
            pieces.append(sql[last: i])
            pieces.append(col_map(m.group(1)))
            i = m.end()
            last = i
        else:
            i += 1
    pieces.append(sql[last:])
    return "".join(pieces)


# Process-wide monotonic counter for table-function view names.
# Naming views per-call (__bh_src_0, __bh_src_1, ...) raced under the
# ThreadingHTTPServer: two concurrent queries both registered
# __bh_src_0 and could silently read each other's source. Temp views
# are session-scoped shared state, so uniqueness must be process-wide;
# the engine drops them after execution.
_VIEW_COUNTER = itertools.count()


def _rewrite_table_functions(
    sql: str, spark: SparkSession | None, uses_file: bool
) -> tuple[str, list[str]]:
    views: list[str] = []
    out = sql
    for fn in _TABLE_FUNCS:
        pos = 0
        while True:
            call = _find_call(out, fn, pos)
            if call is None:
                break
            start, end, args = call
            if fn == "values":
                looks_ch = (
                    args
                    and re.fullmatch(r"'[^']*'", args[0].strip())
                    and re.search(
                        r"(?:\bFROM|\bJOIN)\s*$",
                        out[:start],
                        re.IGNORECASE,
                    )
                )
                if looks_ch:
                    # A quoted first arg in FROM position is only the
                    # CH table function when it PARSES as a schema —
                    # Spark VALUES rows may open with a plain string
                    # literal too (``FROM VALUES ('a', 0), ...``).
                    from bighouse_spark.dialect.schema import (
                        parse_schema_string,
                    )

                    try:
                        parse_schema_string(_unquote(args[0].strip()))
                    except ValueError:
                        looks_ch = False
                if not looks_ch:
                    # Everything else (Spark-native VALUES rows,
                    # INSERT VALUES and wire-format payloads) is
                    # untouched.
                    pos = start + 1
                    continue
            if fn in ("format", "null", "zeros", "zeros_mt") and not (
                re.search(
                    r"(?:\bFROM|\bJOIN)\s*$", out[:start], re.IGNORECASE
                )
            ):
                # These names double as scalar spellings (the format()
                # expression builder, NULL-adjacent calls) — only the
                # FROM/JOIN position is the table function.
                pos = start + 1
                continue
            if spark is None:
                raise ValueError(
                    f"table function {fn}() requires a SparkSession to transpile"
                )
            view = f"__bh_src_{next(_VIEW_COUNTER)}"
            _register_source(spark, fn, args, view, uses_file)
            views.append(view)
            out = out[:start] + view + out[end:]
    return out, views


def _wrap_calls(sql: str, fn: str, prefix: str, suffix: str) -> str:
    """Replace every ``fn(args)`` with ``{prefix}args{suffix}``,
    respecting nested parens and quotes."""
    out = sql
    search_from = 0
    while True:
        call = _find_call(out[search_from:], fn)
        if call is None:
            return out
        start, end, args = call
        start, end = start + search_from, end + search_from
        replacement = prefix + ", ".join(args) + suffix
        out = out[:start] + replacement + out[end:]
        search_from = start + len(replacement)


# Compiled-pattern caches. The rewrite tables hold ~900 distinct
# function names; compiling each name's pattern per call blows
# re's 512-entry internal cache, turning every transpile into ~900
# full regex compiles (profiled at >95 % of transpile latency).
@functools.lru_cache(maxsize=None)
def _call_pattern(fn: str) -> "re.Pattern[str]":
    return re.compile(rf"\b{fn}\s*\(", re.IGNORECASE)


@functools.lru_cache(maxsize=None)
def _rename_pattern(fn: str) -> "re.Pattern[str]":
    return re.compile(rf"\b{fn}\(")


def _find_call(
    sql: str, fn: str, pos: int = 0
) -> tuple[int, int, list[str]] | None:
    """First ``fn(...)`` call at or after ``pos`` (absolute offsets).
    ``pos`` lets context-sensitive rewrites skip an occurrence they
    decided to leave alone without rescanning it forever.

    Quote-shielded (round 13): a match starting inside a string /
    backtick / double-quote span is SQL-shaped data, not a call —
    ``SELECT 'toDate(...)'`` keeps its spelling. This is the shared
    choke point for every _CAST_FUNCS/_WRAP_FUNCS/builder rewrite,
    so shielding here covers the whole rename surface at once."""
    pat = _call_pattern(fn)
    spans: list[tuple[int, int]] | None = None
    while True:
        m = pat.search(sql, pos)
        if not m:
            return None
        if spans is None:  # lazy: most calls never match in-quote
            spans = [q.span() for q in _QUOTED_SPAN.finditer(sql)]
        s = m.start()
        if any(a <= s < b for a, b in spans):
            pos = s + 1
            continue
        break
    i, depth, brackets, quote = m.end(), 1, 0, None
    args, cur = [], []
    while i < len(sql) and depth > 0:
        c = sql[i]
        if quote:
            cur.append(c)
            if quote == "'" and c == "\\":
                # CH backslash escape: the next char stays inside
                # the literal (a \' used to CLOSE the quote here and
                # a following ')' miscounted as the call's close —
                # "unbalanced parens" on valid VALUES, round 14)
                i += 1
                if i < len(sql):
                    cur.append(sql[i])
            elif c == quote:
                quote = None
        elif c in "'\"`":
            quote = c
            cur.append(c)
        elif c == "(":
            depth += 1
            cur.append(c)
        elif c == ")":
            depth -= 1
            if depth > 0:
                cur.append(c)
        elif c == "[":
            brackets += 1
            cur.append(c)
        elif c == "]":
            brackets -= 1
            cur.append(c)
        elif c == "," and depth == 1 and brackets == 0:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(c)
        i += 1
    if depth != 0:
        raise ValueError(f"unbalanced parens in {fn}() call")
    if cur:
        args.append("".join(cur).strip())
    return m.start(), i, args


def _unquote(s: str) -> str:
    s = s.strip()
    if len(s) >= 2 and s[0] == s[-1] and s[0] in "'\"":
        return s[1:-1]
    return s


_FORMAT_MAP = {
    "csvwithnames": ("csv", True),
    "csv": ("csv", False),
    "tsvwithnames": ("csv", True),
    "tsv": ("csv", False),
    "parquet": ("parquet", True),
    "jsoneachrow": ("json", True),
    "json": ("json", True),
    "orc": ("orc", True),
}


# url → (file:// path, bytes), most-recently-used last. Byte-capped:
# unbounded spool growth was round-2/3 debt — a long-lived server
# session fetching many urlCluster expansions would fill local disk.
_HTTP_SPOOL: "OrderedDict[str, tuple[str, int]]" = OrderedDict()
_HTTP_SPOOL_LOCK = threading.Lock()
_HTTP_SPOOL_MAX_BYTES = int(
    os.environ.get("BIGHOUSE_HTTP_SPOOL_MAX_BYTES", str(4 << 30))
)
# url → count of in-flight requests whose registered url() views point
# at the spool file. Eviction skips pinned entries: with the threaded
# HTTP/wire servers, thread A's Spark action may read a file:// path
# long after A's transpile returned — thread B's fetch evicting it
# mid-query would fail A with FileNotFoundException. Pins are
# per-thread (the request runs its transpile AND its action on one
# handler thread) and released at the request boundary
# (``engine.execute``'s finally), when eviction retries.
_HTTP_SPOOL_PINS: dict[str, int] = {}
_SPOOL_LOCAL = threading.local()


def _pin_spool_locked(url: str) -> None:
    urls = getattr(_SPOOL_LOCAL, "urls", None)
    if urls is None:
        urls = _SPOOL_LOCAL.urls = set()
    if url not in urls:
        urls.add(url)
        _HTTP_SPOOL_PINS[url] = _HTTP_SPOOL_PINS.get(url, 0) + 1


def release_spool_pins() -> None:
    """Release the calling thread's spool pins and apply any eviction
    deferred while they were held. Called at the same request
    boundaries as ``release_tracked`` (idempotent; a thread with no
    pins is a no-op)."""
    urls = getattr(_SPOOL_LOCAL, "urls", None)
    if not urls:
        return
    with _HTTP_SPOOL_LOCK:
        for url in urls:
            n = _HTTP_SPOOL_PINS.get(url, 0) - 1
            if n <= 0:
                _HTTP_SPOOL_PINS.pop(url, None)
            else:
                _HTTP_SPOOL_PINS[url] = n
        urls.clear()
        _spool_evict_locked()


def _spool_evict_locked() -> None:
    """Evict least-recently-used UNPINNED spool files until under the
    byte cap. The file(s) of the current query are pinned for the
    request's duration (and just touched, so MRU besides); if every
    entry is pinned the spool temporarily exceeds the cap and eviction
    happens at the next pin release — correctness over cap strictness."""
    total = sum(b for _, b in _HTTP_SPOOL.values())
    if total <= _HTTP_SPOOL_MAX_BYTES:
        return
    for url in list(_HTTP_SPOOL):
        if total <= _HTTP_SPOOL_MAX_BYTES or len(_HTTP_SPOOL) <= 1:
            break
        if _HTTP_SPOOL_PINS.get(url):
            continue
        path, nbytes = _HTTP_SPOOL.pop(url)
        total -= nbytes
        try:
            local = path.removeprefix("file://")
            os.unlink(local)
            # Each spool file lives in its own hash directory.
            os.rmdir(os.path.dirname(local))
        except OSError:
            pass


def _fetch_http(url: str) -> str:
    """Download an http(s) source to a local spool file (LRU-cached
    under a byte cap, ``BIGHOUSE_HTTP_SPOOL_MAX_BYTES``, default 4 GiB)
    and return a file:// path.

    The download streams to a unique temp name and ``os.replace``s
    into place only on success: a mid-stream failure can never leave a
    truncated file that the exists-check on a later call would serve
    as complete, and concurrent fetches of the same URL are safe (both
    write whole files; the rename is atomic, last-one-wins)."""
    with _HTTP_SPOOL_LOCK:
        if url in _HTTP_SPOOL:
            _HTTP_SPOOL.move_to_end(url)
            _pin_spool_locked(url)
            return _HTTP_SPOOL[url][0]
    import hashlib
    import tempfile
    import urllib.request
    import uuid

    # Hash goes in a SUBDIRECTORY, not the file name: the basename
    # must stay the URL's own so the `_file` virtual column reads as
    # CH's (resource name, not a spool artifact).
    spool_dir = os.path.join(
        tempfile.gettempdir(),
        "bighouse_http_spool",
        hashlib.md5(url.encode()).hexdigest(),
    )
    os.makedirs(spool_dir, exist_ok=True)
    name = os.path.basename(url.split("?")[0]) or "index"
    dest = os.path.join(spool_dir, name)
    if not os.path.exists(dest):
        tmp = f"{dest}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        try:
            with urllib.request.urlopen(url, timeout=60) as resp, open(
                tmp, "wb"
            ) as f:
                while chunk := resp.read(1 << 20):
                    f.write(chunk)
            os.replace(tmp, dest)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
    with _HTTP_SPOOL_LOCK:
        _HTTP_SPOOL[url] = (f"file://{dest}", os.path.getsize(dest))
        _HTTP_SPOOL.move_to_end(url)
        _pin_spool_locked(url)
        _spool_evict_locked()
        return _HTTP_SPOOL[url][0]


def _fetch_http_many(urls: list[str]) -> list[str]:
    """Spool many http(s) URLs concurrently (a `{2009..2016}{01..12}`
    urlCluster expansion is ~100 files — serial driver fetches were
    the round-1 bottleneck). Order-preserving; bounded pool."""
    if len(urls) == 1:
        return [_fetch_http(urls[0])]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(16, len(urls))) as pool:
        return list(pool.map(_fetch_http, urls))


# PostgreSQL's RESERVED keyword class (cannot appear unquoted in
# table-name position; from the public keyword table in the PG docs).
_PG_RESERVED = frozenset(
    """all analyse analyze and any array as asc asymmetric both case
    cast check collate column constraint create current_catalog
    current_date current_role current_time current_timestamp
    current_user default deferrable desc distinct do else end except
    false fetch for foreign from grant group having in initially
    intersect into lateral leading limit localtime localtimestamp not
    null offset on only or order placing primary references returning
    select session_user some symmetric table then to trailing true
    union unique user using variadic when where window with""".split()
)


def parse_inline_payload(spark, fmt_name: str, data: str, struct=None):
    """Inline text payload → DataFrame: the parser behind the
    ``format(...)`` table function and ``input()`` INSERT transforms.
    ``data`` arrives fully decoded (no SQL-literal escapes).
    Supported: JSONEachRow/NDJSON, CSV[WithNames],
    TabSeparated[WithNames]/TSV[WithNames], Values (needs a
    structure). Payloads live inside the statement/request, so they
    are small by construction; parsing is driver-side or single-task
    and everything beyond the leaf is an ordinary Spark plan."""
    import json as _json

    from pyspark.sql import functions as F

    fl = fmt_name.strip().lower()
    lines = [ln for ln in data.splitlines() if ln.strip()]
    if fl in ("jsoneachrow", "ndjson", "jsonlines"):
        rows = [_json.loads(ln) for ln in lines]
        df = spark.createDataFrame(rows)
        if struct is not None:
            # cast after inference: a JSON 1 must land in a Float64
            # column (createDataFrame's strict checker rejects it)
            df = df.select(*[
                (F.col(f.name) if f.name in df.columns
                 else F.lit(None)).cast(f.dataType).alias(f.name)
                for f in struct.fields
            ])
        return df
    if fl in ("csv", "csvwithnames", "tsv", "tabseparated",
              "tsvwithnames", "tabseparatedwithnames"):
        import csv as _csv
        import io as _io

        from pyspark.sql import types as T

        # csv.reader (not a line split) so quoted fields keep
        # embedded newlines/separators — CH's CSV reader accepts them
        sep = "," if fl.startswith("csv") else "\t"
        header = fl.endswith("withnames")
        recs = [
            r for r in _csv.reader(_io.StringIO(data), delimiter=sep)
            if r
        ]
        names = None
        if header and recs:
            names = [c.strip() for c in recs[0]]
            recs = recs[1:]
        ncols = (len(struct.fields) if struct is not None
                 else max((len(r) for r in recs), default=0))
        recs = [
            [r[i] if i < len(r) else None for i in range(ncols)]
            for r in recs
        ]
        if struct is None:
            names = names or [f"_c{i}" for i in range(ncols)]

            def _infer(i: int) -> str:
                # Strict regexes, not Python int()/float(): those
                # accept '1_0' / ' 1 ', which Spark's CAST then turns
                # into NULL — the column must stay string instead.
                vals = [r[i] for r in recs if r[i] not in (None, "")]
                for rx, t in (
                    (_PARAM_INT_RE, "bigint"),
                    (_PARAM_FLOAT_RE, "double"),
                ):
                    if vals and all(rx.match(v) for v in vals):
                        return t
                return "string"

            struct = T.StructType([
                T.StructField(n, T._parse_datatype_string(_infer(i)))
                for i, n in enumerate(names)
            ])
        if not recs:
            # empty payload: skip the string-cast pipeline entirely —
            # CAST('' AS array<struct<...>>) fails ANALYSIS even with
            # zero rows (Nested/Array schemas over an empty format())
            return spark.createDataFrame([], struct)
        str_struct = T.StructType([
            T.StructField(f.name, T.StringType(), True)
            for f in struct.fields
        ])
        df = spark.createDataFrame(recs, str_struct)
        # '' is CSV's empty field → NULL before the typed cast (ANSI
        # would otherwise error casting '' to a numeric)
        return df.select(*[
            F.expr(f"CAST(nullif(`{f.name}`, '') AS "
                   f"{f.dataType.simpleString()}) AS `{f.name}`")
            if not isinstance(f.dataType, T.StringType)
            else F.col(f.name)
            for f in struct.fields
        ])
    if fl == "values":
        if struct is None:
            raise ValueError(
                "Values payloads need a structure argument (rows "
                "carry no names)"
            )
        names = ", ".join(f.name for f in struct.fields)
        rows_sql = ", ".join(
            _rewrite_array_literals(r) for r in _split_args_top(data)
        )
        df = spark.sql(
            f"SELECT * FROM VALUES {rows_sql} AS __v({names})"
        )
        for f in struct.fields:
            df = df.withColumn(f.name, df[f.name].cast(f.dataType))
        return df
    raise ValueError(
        f"inline data format {fmt_name!r} is not supported; use "
        "JSONEachRow, CSV[WithNames], TabSeparated[WithNames], or "
        "Values"
    )


def _register_source(
    spark: SparkSession, fn: str, args: list[str], view: str, uses_file: bool
) -> None:
    """Interpret a CH table-function arg list and register the read.

    Arg shapes (reference ``test.go:41-70``, ``README.md:148-163``):
      s3(url[, format[, schema[, compression]]])
      s3Cluster(cluster, url[, format[, schema[, compression]]])
      url(url[, format[, schema]]) / urlCluster(cluster, url, ...)
      file(path[, format[, schema]])
    """
    if fn in ("dedupMinhashLSH", "tfidfTopK"):
        # Operator-backed table functions over an already-registered
        # table/view:
        #   dedupMinhashLSH(table, 'id_col', 'text_col'[, threshold])
        #   tfidfTopK(table, 'id_col', 'text_col'[, k])
        # The operator builds the DataFrame plan; the engine's
        # request-scoped release drops its tracked scratch persists.
        if len(args) < 3:
            raise ValueError(
                f"{fn}() needs (table, 'id_col', 'text_col'[, ...])"
            )
        tbl = _unquote(args[0])
        src = spark.table(tbl)
        id_col, text_col = _unquote(args[1]), _unquote(args[2])
        if fn == "dedupMinhashLSH":
            from bighouse_spark.operators.dedup import minhash_lsh_pairs

            df = minhash_lsh_pairs(
                src,
                text_col=text_col,
                id_col=id_col,
                jaccard_threshold=(
                    float(args[3]) if len(args) > 3 else 0.5
                ),
            )
        else:
            from bighouse_spark.operators.tfidf import tfidf_topk

            df = tfidf_topk(
                src,
                id_col=id_col,
                text_col=text_col,
                k=int(args[3]) if len(args) > 3 else 3,
            )
        df.createOrReplaceTempView(view)
        return
    if fn in ("postgresql", "mysql"):
        # postgresql('host:port', 'database', 'table', 'user',
        # 'password'[, 'schema'][, 'tls'|'tls_ca=/path']) /
        # mysql(same, no schema): federated read over this package's
        # own wire-protocol CLIENTS (sources/dbclients.py). Like
        # ClickHouse's implementations, the remote table streams
        # through ONE connection on the initiator (an OLTP table has
        # no free partitioning key); dbclients.ROW_CAP bounds the
        # driver-side materialization with a loud error pointing big
        # tables at object storage. A trailing 'tls' argument
        # upgrades the connection (SSLRequest / CLIENT_SSL);
        # 'tls_ca=/path' additionally pins a trust root and turns on
        # certificate + hostname verification.
        from bighouse_spark.sources.dbclients import (
            mysql_fetch,
            pg_fetch,
        )

        if len(args) < 5:
            raise ValueError(
                f"{fn}() needs ('host:port', 'database', 'table', "
                "'user', 'password')"
            )
        hostport = _unquote(args[0])
        host, _, port_s = hostport.partition(":")
        port = int(port_s) if port_s else (5432 if fn == "postgresql" else 3306)
        database, table = _unquote(args[1]), _unquote(args[2])
        user, password = _unquote(args[3]), _unquote(args[4])
        # Trailing options: 'tls' / 'tls_ca=/path' anywhere after the
        # credentials; for postgresql() the first non-TLS trailing
        # argument is the schema.
        use_tls, tls_ca, pg_schema = False, None, None
        for extra in args[5:]:
            val = _unquote(extra)
            if val == "tls":
                use_tls = True
            elif val.startswith("tls_ca="):
                use_tls = True
                tls_ca = val[len("tls_ca="):]
            elif fn == "postgresql" and pg_schema is None:
                pg_schema = val
            else:
                raise ValueError(
                    f"{fn}(): unrecognized trailing argument "
                    f"{val!r}; expected 'tls', 'tls_ca=/path'"
                    + (" or a schema name" if fn == "postgresql" else "")
                )

        def _q_pg(ident: str) -> str:
            # PG folds unquoted identifiers to lowercase, so any
            # uppercase (or reserved/non-identifier) name MUST be
            # quoted or it silently resolves to the wrong relation.
            # Lowercase unreserved names stay unquoted so the
            # loopback CH-dialect server (backtick-only) parses them
            # too; quoted behaves identically on real PG.
            if (
                re.fullmatch(r"[a-z_][a-z0-9_]*", ident)
                and ident not in _PG_RESERVED
            ):
                return ident
            return '"' + ident.replace('"', '""') + '"'

        def _q_my(ident: str) -> str:
            # Backticks are valid everywhere MySQL SQL is (and in
            # the engine behind the loopback server) — quote always.
            return "`" + ident.replace("`", "``") + "`"

        if fn == "postgresql":
            qualified = _q_pg(table)
            if pg_schema is not None:
                qualified = f"{_q_pg(pg_schema)}.{qualified}"
            names, kinds, rows = pg_fetch(
                host, port, database, user, password,
                f"SELECT * FROM {qualified}",
                tls=use_tls, tls_ca=tls_ca,
            )
        else:
            names, kinds, rows = mysql_fetch(
                host, port, database, user, password,
                f"SELECT * FROM {_q_my(table)}",
                tls=use_tls, tls_ca=tls_ca,
            )
        from decimal import Decimal as _Dec

        from pyspark.sql import types as T

        spark_types = {
            "int": T.LongType(), "bit": T.LongType(),
            "float": T.DoubleType(),
            "decimal": T.DoubleType(), "bool": T.BooleanType(),
            "date": T.DateType(), "datetime": T.TimestampType(),
            "bytes": T.BinaryType(), "str": T.StringType(),
        }
        schema = T.StructType([
            T.StructField(n, spark_types[k], True)
            for n, k in zip(names, kinds)
        ])
        if any(k == "decimal" for k in kinds):
            # Remote NUMERIC without reliable typmod metadata maps to
            # DOUBLE (documented lossy beyond 2^53) — convert values.
            dec_idx = [i for i, k in enumerate(kinds) if k == "decimal"]
            for row in rows:
                for i in dec_idx:
                    if isinstance(row[i], _Dec):
                        row[i] = float(row[i])
        spark.createDataFrame(rows, schema).createOrReplaceTempView(
            view
        )
        return
    if fn in ("cluster", "clusterAllReplicas"):
        # cluster('name', [db.]table): route a query at a named
        # cluster. One Spark session IS the cluster, so this is the
        # registered table itself (same erasure as s3Cluster's
        # {cluster} macro).
        if len(args) < 2:
            raise ValueError(f"{fn}() needs (cluster, table) arguments")
        tbl = _unquote(args[1]).split(".")[-1]
        spark.table(tbl).createOrReplaceTempView(view)
        return
    if fn in ("remote", "remoteSecure"):
        # remote('addrs', [db,] table [, user, password]): read a
        # table on another server. One warm session serves every
        # address (the same erasure as cluster()); the address list,
        # credentials and sharding key are accepted and dropped.
        # CH db.table spellings and the (addr, db, table) arg form
        # both resolve; the system db maps to the engine's
        # system_* views.
        if len(args) < 2:
            raise ValueError(
                f"{fn}() needs (addresses, [db,] table) arguments"
            )
        parts = _unquote(args[1]).split(".")
        if len(parts) == 1 and len(args) >= 3:
            nxt = _unquote(args[2])
            # Third arg is a table name (not a credential) when the
            # second had no dot and the third is a bare identifier.
            if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", nxt):
                parts = [parts[0], nxt]
        db = parts[0] if len(parts) > 1 else None
        tbl = parts[-1]
        if db == "system":
            tbl = f"system_{tbl}"
        spark.table(tbl).createOrReplaceTempView(view)
        return
    if fn == "format":
        # format(Format[, 'structure'], '<data>'): inline data as a
        # table — the clickhouse-local idiom for querying a pasted
        # payload. The data lives inside the SQL text, so it is small
        # by construction; parsing happens driver-side / single-task
        # and the plan beyond the leaf is ordinary Spark.
        if len(args) < 2:
            raise ValueError(
                "format(Format[, 'structure'], '<data>') needs the "
                "format name and the data payload"
            )
        from bighouse_spark.dialect.schema import parse_schema_string

        fmt_name = _unquote(args[0]).strip()
        struct = (
            parse_schema_string(_unquote(args[1]))
            if len(args) > 2 else None
        )
        raw_arg = args[-1].strip()
        was_quoted = (
            len(raw_arg) >= 2 and raw_arg[0] == raw_arg[-1]
            and raw_arg[0] in "'\""
        )
        data = _unquote(args[-1])
        if was_quoted:
            # inside a quoted SQL literal, '' is the escaped quote
            data = data.replace("''", "'")
        # CH string literals carry \n/\t escapes for inline payloads.
        data = (
            data.replace("\\\\", "\x00")
            .replace("\\n", "\n").replace("\\t", "\t")
            .replace("\x00", "\\")
        )
        parse_inline_payload(
            spark, fmt_name, data, struct
        ).createOrReplaceTempView(view)
        return
    if fn == "null":
        # null('schema'): typed empty table (CH's Null-engine
        # blackhole as a source reads zero rows).
        if not args:
            raise ValueError("null() needs a 'schema' argument")
        from bighouse_spark.dialect.schema import parse_schema_string

        struct = parse_schema_string(_unquote(args[0]))
        spark.createDataFrame([], struct).createOrReplaceTempView(view)
        return
    if fn in ("zeros", "zeros_mt"):
        # zeros(N): N rows of a single UInt8 `zero` column (CH's
        # cheapest row generator; _mt parallelism is Spark's job).
        if len(args) != 1:
            raise ValueError(f"{fn}() takes exactly one argument")
        from pyspark.sql import functions as F

        spark.range(0, int(_unquote(args[0]))).select(
            F.lit(0).cast("smallint").alias("zero")
        ).createOrReplaceTempView(view)
        return
    if fn == "values":
        # values('a T, b U', (..), (..)): inline literal table. Spark's
        # VALUES syntax provides the rows; the CH schema string names
        # and types the columns.
        if len(args) < 2:
            raise ValueError("values() needs ('schema', row, ...)")
        from bighouse_spark.dialect.schema import parse_schema_string

        struct = parse_schema_string(_unquote(args[0]))
        names = ", ".join(f.name for f in struct.fields)
        # CH [..] array literals inside the row payload → array(..)
        # (VALUES rows otherwise pass to Spark verbatim).
        rows = ", ".join(_rewrite_array_literals(r) for r in args[1:])
        df = spark.sql(f"SELECT * FROM VALUES {rows} AS __v({names})")
        for f in struct.fields:
            df = df.withColumn(f.name, df[f.name].cast(f.dataType))
        df.createOrReplaceTempView(view)
        return
    if fn == "generateRandom":
        # generateRandom('schema'[, seed]): deterministic pseudorandom
        # rows typed by the schema — hash-derived from a lazy infinite
        # range, so LIMIT n materializes exactly n rows and the same
        # seed reproduces the same data (CH's generator is likewise
        # seed-deterministic). Used with LIMIT, like in CH.
        if not args:
            raise ValueError("generateRandom() needs a 'schema' argument")
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from bighouse_spark.dialect.schema import parse_schema_string

        struct = parse_schema_string(_unquote(args[0]))
        seed = int(_unquote(args[1])) if len(args) > 1 else 0
        base = spark.range(0, 9223372036854775807).select("id")

        def rand_col(i: int, dt) -> "F.Column":
            h = F.xxhash64(F.col("id"), F.lit(seed), F.lit(i))
            if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                               T.LongType)):
                # modulo within the type's range — ANSI mode makes an
                # overflowing cast a runtime error, not a wrap
                mod = (100 if isinstance(dt, T.ByteType)
                       else 10_000 if isinstance(dt, T.ShortType)
                       else 1_000_000)
                return F.abs(h % F.lit(mod)).cast(dt)
            if isinstance(dt, (T.FloatType, T.DoubleType)):
                return (F.abs(h % F.lit(1 << 30)) / F.lit(1 << 30)).cast(dt)
            if isinstance(dt, T.DecimalType):
                return F.abs(h % F.lit(10 ** min(dt.precision - dt.scale, 6))
                             ).cast(dt)
            if isinstance(dt, T.BooleanType):
                return (h % 2 == 0)
            if isinstance(dt, T.DateType):
                return F.date_add(F.lit("2020-01-01").cast("date"),
                                  F.abs(h % F.lit(3653)).cast("int"))
            if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
                return F.timestamp_seconds(
                    F.lit(1577836800) + F.abs(h % F.lit(315360000))
                )
            if isinstance(dt, T.StringType):
                return F.concat(F.lit("s"), F.abs(h % F.lit(100000)))
            if isinstance(dt, T.ArrayType):
                return F.slice(
                    F.array(*[rand_col(i * 7 + k + 1, dt.elementType)
                              for k in range(3)]),
                    1, F.abs(h % F.lit(4)).cast("int"),
                )
            raise ValueError(
                f"generateRandom: unsupported type {dt.simpleString()}"
            )

        out_df = base.select(
            *[rand_col(i, f.dataType).alias(f.name)
              for i, f in enumerate(struct.fields)]
        )
        out_df.createOrReplaceTempView(view)
        return
    if fn == "merge":
        # merge([db,] 'tables_regexp'): union of every registered
        # table whose name matches — CH's multi-table read. Strict
        # by-name union (CH requires compatible structures too).
        pat = _unquote(args[-1])
        names = sorted(
            t.name
            for t in spark.catalog.listTables()
            # re.search, not fullmatch: CH matches tables_regexp
            # unanchored (its docs anchor explicitly with ^WatchLog).
            if re.search(pat, t.name) and not t.name.startswith("__bh_")
        )
        if not names:
            raise ValueError(f"merge('{pat}'): no registered table matches")
        out = spark.table(names[0])
        for n in names[1:]:
            out = out.unionByName(spark.table(n))
        out.createOrReplaceTempView(view)
        return
    if fn.endswith("Cluster"):
        args = args[1:]  # drop '{cluster}' — vacuous in Spark (B2)
    if not args:
        raise ValueError(f"{fn}() needs at least a URL argument")
    url = _unquote(args[0])
    fmt_name = _unquote(args[1]).lower() if len(args) > 1 else None
    schema = _unquote(args[2]) if len(args) > 2 else None
    compression = _unquote(args[3]) if len(args) > 3 else None

    if fmt_name is None:
        fmt_name = "parquet" if ".parquet" in url else "csvwithnames"
    fmt, header = _FORMAT_MAP.get(fmt_name, ("parquet", True))
    if fmt == "parquet":
        schema = None  # self-describing

    paths = expand_braces(url)
    if paths and paths[0].startswith(("http://", "https://")):
        from bighouse_spark.sources.urlfanout import (
            can_fanout,
            read_urls_distributed,
        )

        if can_fanout(paths, fmt):
            # Many-file glob: EXECUTOR-side fetch+parse (mapInPandas)
            # — payload bytes never touch the driver, matching the
            # reference's urlCluster fan-out
            # (workflow_query_executor_test.go:63-65).
            options = {}
            if fmt_name in ("tsv", "tsvwithnames"):
                options["sep"] = "\t"
            df = read_urls_distributed(
                spark,
                paths,
                fmt=fmt,
                schema=schema,
                header=header,
                compression=compression,
                add_file_column=uses_file,
                options=options,
            )
            df.createOrReplaceTempView(view)
            return
        # Small sets / other formats: driver-local spool (concurrent
        # fetch, LRU + pin-refcounted). No Hadoop FS speaks http, and
        # for a handful of public CSVs (the reference's use, run.sh:17)
        # the spool keeps Spark's native reader — including formats
        # the executor-side parser doesn't cover. S3-hosted data
        # should use s3a:// paths, which scan distributed.
        paths = _fetch_http_many(paths)
    options = {}
    if fmt_name in ("tsv", "tsvwithnames"):
        options["sep"] = "\t"
    df = read_source(
        spark,
        paths,
        fmt=fmt,
        schema=schema,
        header=header,
        compression=compression,
        add_file_column=uses_file,
        options=options,
    )
    df.createOrReplaceTempView(view)


# -If x -State stackings (round-11 seam sweep #2): the
# AggregatingMergeTree MV vocabulary — sumIfState(x, cond) et al.
# Under the partial-is-the-value convention the -If fold IS the
# state, so every spelling order (IfState / StateIf / the
# SimpleState flavors) maps to the filtered aggregate; avg keeps its
# (sum, count) struct state, uniq its HLL sketch.
def _if_state_entries() -> dict:
    out = {}

    def _plain(fn):
        return lambda a: (
            f"{fn}(CASE WHEN ({a[1]}) THEN ({a[0]}) END)"
        )

    def _count(a):
        return (
            f"count_if({a[0]})"
            if len(a) == 1
            else f"count(CASE WHEN ({a[1]}) THEN ({a[0]}) END)"
        )

    def _avg(a):
        return (
            f"named_struct('sum', sum(CASE WHEN ({a[1]}) THEN "
            f"CAST({a[0]} AS DOUBLE) END), "
            f"'count', count(CASE WHEN ({a[1]}) THEN 1 END))"
        )

    def _uniq(a):
        return f"hll_sketch_agg(CASE WHEN ({a[1]}) THEN ({a[0]}) END)"

    suffixes = ("IfState", "StateIf", "SimpleStateIf", "IfSimpleState")
    for base in ("sum", "min", "max"):
        for suf in suffixes:
            out[base + suf] = _plain(base)
    for suf in suffixes:
        out["count" + suf] = _count
    for suf in ("IfState", "StateIf"):
        out["avg" + suf] = _avg
        out["uniq" + suf] = _uniq
    return out


_ARG_REWRITES.update(_if_state_entries())


# Aggregate combinator suffixes this dialect composes with the base
# aggregates (the system.aggregate_function_combinators twin; CH
# lists combinators separately from function names).
SERVED_COMBINATORS = (
    "-If", "-Array", "-ArrayIf", "-ForEach", "-Distinct", "-OrNull",
    "-OrDefault", "-State", "-Merge", "-MergeState", "-SimpleState",
    "-Resample",
)


def served_function_names() -> list[tuple[str, str]]:
    """Every CH spelling with a dedicated dispatch entry, as sorted
    (name, kind) pairs — the ``system.functions`` introspection twin.
    A row means the engine RECOGNIZES the spelling and gives a
    dedicated response: usually a rewrite, for a small set a guided
    refusal naming the supported alternative (the dispatch table does
    not distinguish them — run the function to see which).
    Combinator compositions (sumIf, avgOrNull, quantileIf(p)(x, c),
    ...) are families, not enumerated names: like CH they live in
    ``system.aggregate_function_combinators`` (SERVED_COMBINATORS)
    and compose with the aggregate bases. Contextual rewrites that
    key on statement shape (ARRAY JOIN, WITH FILL, window frames)
    are clauses, not functions, and are likewise not rows here."""
    # Names served by bespoke scan loops or passed through to the
    # identically-spelled Spark builtin (the shared SQL core) — they
    # have no dict entry to enumerate.
    bespoke = {
        "topK": "parametric", "topKWeighted": "parametric",
        "approx_top_sum": "parametric", "approx_top_k": "parametric",
        "quantileDeterministic": "parametric",
        "quantilesDeterministic": "parametric",
        "CAST": "native", "EXTRACT": "native",
    }
    native = (
        "count", "sum", "min", "max", "avg", "abs", "round", "floor",
        "ceil", "sqrt", "exp", "ln", "log", "log2", "log10", "pow",
        "power", "sin", "cos", "tan", "asin", "acos", "atan", "pi",
        "e", "sign", "greatest", "least", "coalesce", "nullif",
        "ifNull", "concat", "length", "lower", "upper", "trim",
        "ltrim", "rtrim", "replace", "reverse", "repeat", "substring",
        "position", "corr", "covarPop", "covarSamp", "stddevPop",
        "stddevSamp", "varPop", "varSamp", "gcd", "lcm", "factorial",
        "now", "transform", "if", "multiIf", "in", "notIn",
    )
    out: dict[str, str] = dict(bespoke)
    for n in native:
        out.setdefault(n, "native")
    for n, _ in _PARAMETRIC_BUILDERS:
        out.setdefault(n, "parametric")
    for n in _PARAMETRIC:
        out.setdefault(n, "parametric")
    for n in _JSON_FUNCS:
        out.setdefault(n, "json")
    for n in _CAST_FUNCS:
        out.setdefault(n, "conversion")
    for n in _ZERO_ARG:
        out.setdefault(n.rstrip("()"), "zero_arg")
    for n in _HASH_FUNCS:
        out.setdefault(n, "hash")
    for n in _WRAP_FUNCS:
        out.setdefault(n, "expression")
    for n in _ARG_REWRITES:
        out.setdefault(n, "expression")
    for n in _FUNC_RENAMES:
        out.setdefault(n, "rename")
    for n in _TABLE_FUNCS:
        out.setdefault(n, "table_function")
    return sorted(out.items())
