"""Trino-dialect compatibility layer.

The reference's front door IS Trino SQL (reference
internal/trino/client.go:501-617 passes queries through verbatim).  Our
engine's front door is Spark SQL; this module closes the gap for the
common Trino idioms so a reference user's existing queries run
unchanged via ``execute_query(..., dialect="trino")``.

Two mechanisms:

1. **Compat SQL UDFs** (`install_compat_functions`) for Trino scalar
   functions Spark lacks under that name — declared once per session as
   native SQL functions (Spark 4 SQL UDFs, fully Catalyst-optimizable:
   they inline into the plan, no Python round-trip).
2. **Literal-aware rewrites** (`translate`) for the cases a rename
   can't express: aggregate names (SQL UDFs cannot wrap aggregates) and
   signature reorders like Trino's 3-arg ``date_add('day', n, x)`` →
   ``timestampadd(day, n, x)``.  The FIRST pass re-spells Trino's
   escape-free literals for Spark's lexer (backslashes doubled —
   value-preserving, see ``_respell_escape_free_literals``); no later
   rewrite touches string literals, quoted identifiers, or comments.

Structural rewrites beyond renames (each literal-aware, loud on the
shapes it can't express):

- ``try(expr)`` → the matching Spark ``try_*`` function (ANSI mode is
  on, so errors really do throw without it); unsupported bodies raise
  ``TrinoCompatError`` instead of silently keeping throw-semantics.
- ``UNNEST … WITH ORDINALITY`` → a LATERAL posexplode subquery with a
  1-based ordinality column.
- ``format_datetime(x, 'pattern')`` → ``date_format`` with the Joda
  pattern tokens translated to Spark's DateTimeFormatter tokens (the
  notorious one: Joda ``YYYY`` is year-of-era, Spark ``YYYY`` is
  week-based-year — silently wrong around New Year without this).
- ``contains(arr, x)`` → ``array_contains(arr, x)``.
- ``ARRAY[...]`` constructor → ``array(...)`` (balanced-bracket scan);
  a subscript directly on the literal (``ARRAY[..][k]``, 1-based in
  Trino) becomes ``element_at(array(..), k)`` which is also 1-based.
- Bare subscripts ``expr[e]`` → ``element_at(expr, e)`` on EVERY base
  (_rewrite_subscripts): 1-based and ANSI-throwing out-of-bounds on
  arrays, matching Trino's subscript — closed in round 8 (was the
  header's documented silent-divergence gap).  Residue: a negative
  array index reads from the end where Trino errors, and a MISSING map
  key yields NULL where Trino's map subscript raises "Key not present"
  (probed: ANSI element_at does NOT throw on maps; the base's
  container kind is not lexically knowable, so neither can be made
  loud without breaking the other).
- USER-spelled ``element_at`` → ``try_element_at``
  (_rewrite_element_at_nullsafe, round 9): Trino's element_at is
  NULL-out-of-bounds where ANSI Spark's throws; try_element_at matches
  Trino on every probed edge (index 0 throws, negative from-end,
  OOB/missing-key NULL).  Strict/lenient parity is per-SPELLING,
  matching Trino's own subscript-vs-element_at split (x36).
- ``MAP(ka, va)`` (non-empty, not a CAST type) → ``map_from_arrays`` —
  Spark's variadic ``map()`` would silently read the two arrays as one
  entry.
- Type names: bare ``VARCHAR`` → ``STRING``, ``VARBINARY`` → ``BINARY``;
  CAST type constructors ``ARRAY(T)`` / ``MAP(K,V)`` / ``ROW(n T, …)``
  → ``ARRAY<T>`` / ``MAP<K,V>`` / ``STRUCT<n: T, …>`` (recursive), with
  value-position ``ROW(...)`` → ``struct(...)``.
- ``TABLESAMPLE BERNOULLI/SYSTEM(p)`` → ``TABLESAMPLE (p PERCENT)``.
- ``chr`` → a true codepoint UDF (Spark's builtin wraps at 256 —
  silently wrong for chr(955)); ``normalize([s, FORM])`` → an
  Arrow-vectorized unicodedata UDF; ``from_unixtime(x, zone)`` →
  ``from_utc_timestamp(timestamp_seconds(x), zone)``.
- ``MATCH_RECOGNIZE`` routes through the distributed row-pattern
  operator (trino_mr.py + operators/pattern.py), not this module.
- Known gaps (fail loudly at Spark analysis rather than silently
  differ): the 3-arg ``from_unixtime(x, hours, minutes)`` offset form,
  anonymous ``ROW`` type fields.  (The former silent-divergence gap —
  1-based subscripts on non-literal arrays — closed in round 8 via
  _rewrite_subscripts; see above.)
"""

from __future__ import annotations

import re
import threading
import uuid
from typing import Dict, Iterator, List, Optional, Tuple


class TrinoCompatError(ValueError):
    """A Trino idiom this layer cannot faithfully express in Spark SQL —
    failing loudly beats running with silently different semantics."""

#: name → (args DDL, return type, body) — installed as Spark SQL UDFs.
_COMPAT_SQL_UDFS = {
    # Trino strpos(string, substring) == Spark instr(str, substr)
    "strpos": ("(a STRING, b STRING)", "INT", "instr(a, b)"),
    # Trino day_of_week is ISO (Mon=1..Sun=7); Spark dayofweek is Sun=1
    "day_of_week": ("(d TIMESTAMP)", "INT", "((dayofweek(d) + 5) % 7) + 1"),
    "day_of_year": ("(d TIMESTAMP)", "INT", "dayofyear(d)"),
    # Trino's short aliases (dow/doy) — same ISO semantics
    "dow": ("(d TIMESTAMP)", "INT", "((dayofweek(d) + 5) % 7) + 1"),
    "doy": ("(d TIMESTAMP)", "INT", "dayofyear(d)"),
    "day_of_month": ("(d TIMESTAMP)", "INT", "dayofmonth(d)"),
    "week_of_year": ("(d TIMESTAMP)", "INT", "weekofyear(d)"),
    # json_extract_scalar / json_extract are Arrow UDFs (installed in
    # install_compat_functions): get_json_object returns serialized JSON
    # for object/array matches where Trino's _scalar returns NULL, and
    # returns UNQUOTED strings where Trino's json_extract returns JSON
    # text — exact semantics need a real JSON walk
    # fractional seconds preserved: unix_timestamp() truncates to whole
    # seconds, Trino to_unixtime returns a DOUBLE with sub-second part
    "to_unixtime": ("(t TIMESTAMP)", "DOUBLE", "CAST(unix_micros(t) AS DOUBLE) / 1e6"),
    "from_iso8601_timestamp": ("(s STRING)", "TIMESTAMP", "to_timestamp(s)"),
    "from_iso8601_date": ("(s STRING)", "DATE", "to_date(s)"),
    # Trino truncate(x): round toward zero
    "truncate": ("(x DOUBLE)", "DOUBLE", "sign(x) * floor(abs(x))"),
    "to_hex": ("(x BINARY)", "STRING", "upper(hex(x))"),
    # Trino's JSON type round-trips as strings in this engine: parse is
    # identity (downstream json_extract* already take strings), format
    # likewise
    "json_parse": ("(j STRING)", "STRING", "j"),
    "json_format": ("(j STRING)", "STRING", "j"),
    "to_iso8601": (
        "(t TIMESTAMP)",
        "STRING",
        "date_format(t, \"yyyy-MM-dd'T'HH:mm:ss.SSS\")",
    ),
    "nan": ("()", "DOUBLE", "CAST('NaN' AS DOUBLE)"),
    "infinity": ("()", "DOUBLE", "CAST('Infinity' AS DOUBLE)"),
    "is_nan": ("(x DOUBLE)", "BOOLEAN", "isnan(x)"),
    # Trino hamming_distance errors on unequal lengths — mirrored via
    # raise_error rather than silently counting the shorter prefix
    "hamming_distance": (
        "(a STRING, b STRING)",
        "BIGINT",
        "CASE WHEN length(a) <> length(b)"
        " THEN raise_error('hamming_distance: strings have different lengths')"
        " ELSE aggregate(zip_with(split(a, ''), split(b, ''),"
        " (x, y) -> CASE WHEN x <> y THEN 1 ELSE 0 END), 0L, (acc, v) -> acc + v)"
        " END",
    ),
    # Trino to_base emits lowercase digits; Spark conv uppercases
    "to_base": (
        "(x BIGINT, r INT)", "STRING",
        # signed form: Trino renders -255 as '-ff'; Spark conv would
        # emit the unsigned two's-complement digits
        "IF(x < 0, concat('-', lower(conv(CAST(-x AS STRING), 10, r))),"
        " lower(conv(CAST(x AS STRING), 10, r)))",
    ),
    # bare week() == week_of_year (Trino alias)
    "week": ("(d TIMESTAMP)", "INT", "weekofyear(d)"),
    # url_extract_* family over Spark's codegen'd parse_url.  parse_url
    # interprets the key as a Java REGEX; Trino matches it literally, so
    # metachars are escaped ('a.b' must not match 'axb', 'a[]' must not
    # throw)
    "url_extract_parameter": (
        "(u STRING, p STRING)",
        "STRING",
        r"parse_url(u, 'QUERY', regexp_replace(p,"
        r" '([\\^$.|?*+()\\[\\]{}])', '\\\\$1'))",
    ),
    "url_extract_path": ("(u STRING)", "STRING", "parse_url(u, 'PATH')"),
    "url_extract_host": ("(u STRING)", "STRING", "parse_url(u, 'HOST')"),
    "url_extract_protocol": ("(u STRING)", "STRING", "parse_url(u, 'PROTOCOL')"),
    "url_extract_query": ("(u STRING)", "STRING", "parse_url(u, 'QUERY')"),
    "url_extract_fragment": ("(u STRING)", "STRING", "parse_url(u, 'REF')"),
    # binary/varbinary bridge (Trino's string<->bytes pair)
    "to_utf8": ("(s STRING)", "BINARY", "encode(s, 'UTF-8')"),
    "from_utf8": ("(b BINARY)", "STRING", "decode(b, 'UTF-8')"),
    # JSON sizing/indexing over the string-typed JSON this engine uses.
    # json_size inspects the EXACT extractor's serialized node (a
    # string node serializes as '"...' — the old get_json_object +
    # startswith('[') heuristic misread a string VALUE beginning with
    # '[' as an array and returned NULL via json_array_length;
    # differential-sweep catch, round 11).  Scalars including JSON
    # null are size 0 (Trino contract); missing paths stay NULL.
    "json_size": (
        "(j STRING, p STRING)",
        "INT",
        "CASE WHEN json_extract(j, p) IS NULL THEN NULL"
        " WHEN startswith(json_extract(j, p), '[')"
        " THEN json_array_length(json_extract(j, p))"
        " WHEN startswith(json_extract(j, p), '{')"
        " THEN size(json_object_keys(json_extract(j, p)))"
        " ELSE 0 END",
    ),
    # 0-based index like Trino; negative indexes are a documented gap
    "json_array_get": (
        "(j STRING, i BIGINT)",
        "STRING",
        "get_json_object(j, concat('$[', CAST(i AS STRING), ']'))",
    ),
    # null-skipping array reductions (Trino semantics); DOUBLE variants —
    # integer arrays coerce in, sums come back double (documented)
    "array_sum": (
        "(a ARRAY<DOUBLE>)",
        "DOUBLE",
        "CASE WHEN size(filter(a, __x -> __x IS NOT NULL)) = 0 THEN NULL"
        " ELSE aggregate(filter(a, __x -> __x IS NOT NULL), 0D,"
        " (__s, __x) -> __s + __x) END",
    ),
    "array_average": (
        "(a ARRAY<DOUBLE>)",
        "DOUBLE",
        "CASE WHEN size(filter(a, __x -> __x IS NOT NULL)) = 0 THEN NULL"
        " ELSE aggregate(filter(a, __x -> __x IS NOT NULL), 0D,"
        " (__s, __x) -> __s + __x)"
        " / size(filter(a, __x -> __x IS NOT NULL)) END",
    ),
    # Trino returns -1 for no match; Spark's regexp_instr returns 0
    "regexp_position": (
        "(s STRING, p STRING)",
        "INT",
        "CASE WHEN regexp_instr(s, p) = 0 THEN -1 ELSE regexp_instr(s, p) END",
    ),
    # Trino ngrams(array, n) — over string arrays (the overwhelmingly
    # common call; other element types fail analysis loudly)
    "ngrams": (
        "(a ARRAY<STRING>, n INT)",
        "ARRAY<ARRAY<STRING>>",
        "CASE WHEN n >= size(a) THEN array(a)"
        " ELSE transform(sequence(1, size(a) - n + 1), i -> slice(a, i, n)) END",
    ),
    # true codepoint→char (Spark's builtin chr wraps at 256); UTF-32BE
    # big-endian word from the codepoint, decoded as one character.
    # Out-of-range and surrogate codepoints raise like Trino's
    # INVALID_FUNCTION_ARGUMENT — lpad would otherwise truncate hex(n)
    # into a silently wrong character
    "trino_chr": (
        "(n BIGINT)",
        "STRING",
        "CASE WHEN n < 0 OR n > 1114111 OR (n >= 55296 AND n <= 57343)"
        " THEN raise_error(concat('chr: invalid code point ', CAST(n AS STRING)))"
        " ELSE decode(to_binary(lpad(hex(n), 8, '0'), 'hex'), 'UTF-32') END",
    ),
    # Trino bitwise scalar functions (64-bit two's-complement, like
    # Trino's); right_shift is logical (zero-fill), the _arithmetic
    # variant sign-extends
    "bitwise_and": ("(a BIGINT, b BIGINT)", "BIGINT", "a & b"),
    "bitwise_or": ("(a BIGINT, b BIGINT)", "BIGINT", "a | b"),
    "bitwise_xor": ("(a BIGINT, b BIGINT)", "BIGINT", "a ^ b"),
    "bitwise_not": ("(a BIGINT)", "BIGINT", "~a"),
    # shift >= 64 yields 0 in Trino; Java (Spark) masks the shift to
    # s & 63, silently returning the unshifted value
    "bitwise_left_shift": (
        "(a BIGINT, s INT)", "BIGINT",
        "IF(s >= 64, CAST(0 AS BIGINT), shiftleft(a, s))",
    ),
    "bitwise_right_shift": (
        "(a BIGINT, s INT)", "BIGINT",
        "IF(s >= 64, CAST(0 AS BIGINT), shiftrightunsigned(a, s))",
    ),
    "bitwise_right_shift_arithmetic": (
        "(a BIGINT, s INT)", "BIGINT",
        # arithmetic shift sign-fills: >= 64 collapses to all-sign bits
        "IF(s >= 64, IF(a < 0, CAST(-1 AS BIGINT), CAST(0 AS BIGINT)),"
        " shiftright(a, s))",
    ),
    # Trino cosine_similarity over sparse map vectors (the dense-array
    # form lives in the similarity operators); iterate a's keys for the
    # dot product — missing keys contribute 0
    "cosine_similarity": (
        "(a MAP<STRING, DOUBLE>, b MAP<STRING, DOUBLE>)",
        "DOUBLE",
        "aggregate(map_keys(a), 0D, (s, k) -> s + coalesce(element_at(a, k), 0D)"
        " * coalesce(element_at(b, k), 0D))"
        " / (sqrt(aggregate(map_values(a), 0D, (s, v) -> s + v * v))"
        " * sqrt(aggregate(map_values(b), 0D, (s, v) -> s + v * v)))",
    ),
    "from_base": (
        "(s STRING, r INT)", "BIGINT",
        "IF(s LIKE '-%', -CAST(conv(substr(s, 2), r, 10) AS BIGINT),"
        " CAST(conv(s, r, 10) AS BIGINT))",
    ),
    # sha256 is not a Spark builtin name (Spark spells it sha2(x, 256)
    # and returns hex); Trino returns varbinary, hence the unhex
    "sha256": ("(x BINARY)", "BINARY", "unhex(sha2(x, 256))"),
    # ISO week-year (Spark's new formatter rejects pattern 'YYYY';
    # extract(YEAROFWEEK ...) is the supported spelling)
    "year_of_week": ("(d TIMESTAMP)", "INT", "CAST(extract(YEAROFWEEK FROM d) AS INT)"),
    "yow": ("(d TIMESTAMP)", "INT", "CAST(extract(YEAROFWEEK FROM d) AS INT)"),
    "millisecond": ("(t TIMESTAMP)", "INT", "CAST(date_format(t, 'SSS') AS INT)"),
    # Wilson score interval bounds (Trino ML/stats helpers) — closed-form
    # arithmetic, so a SQL UDF reproduces Trino's doubles exactly; the
    # domain guard fails loudly like Trino does (n <= 0 would otherwise
    # silently divide by zero, s > n yields sqrt of a negative → NaN)
    "wilson_interval_lower": (
        "(s BIGINT, n BIGINT, z DOUBLE)",
        "DOUBLE",
        "CASE WHEN n <= 0 OR s < 0 OR s > n OR z < 0 THEN"
        " CAST(raise_error('wilson_interval: need 0 <= successes <= trials,"
        " trials > 0, z >= 0') AS DOUBLE)"
        " ELSE (CAST(s AS DOUBLE)/n + z*z/(2*n)"
        " - z * sqrt((CAST(s AS DOUBLE)/n) * (1 - CAST(s AS DOUBLE)/n)/n"
        " + z*z/(4.0*n*n))) / (1 + z*z/n) END",
    ),
    "wilson_interval_upper": (
        "(s BIGINT, n BIGINT, z DOUBLE)",
        "DOUBLE",
        "CASE WHEN n <= 0 OR s < 0 OR s > n OR z < 0 THEN"
        " CAST(raise_error('wilson_interval: need 0 <= successes <= trials,"
        " trials > 0, z >= 0') AS DOUBLE)"
        " ELSE (CAST(s AS DOUBLE)/n + z*z/(2*n)"
        " + z * sqrt((CAST(s AS DOUBLE)/n) * (1 - CAST(s AS DOUBLE)/n)/n"
        " + z*z/(4.0*n*n))) / (1 + z*z/n) END",
    ),
    # last occurrence position (1-based; 0 = not found) via the
    # reversed-string trick — stays in codegen, no regex
    "strrpos": (
        "(s STRING, sub STRING)",
        "BIGINT",
        "IF(instr(reverse(s), reverse(sub)) = 0, 0,"
        " length(s) - instr(reverse(s), reverse(sub)) - length(sub) + 2)",
    ),
    # Trino split_to_multimap: entry/key delimiters are LITERAL strings
    # (\\Q..\\E regex-quotes them for Spark's regex-based split); values
    # for a repeated key aggregate into one array, in input order
    "split_to_multimap": (
        "(s STRING, ed STRING, kd STRING)",
        "MAP<STRING, ARRAY<STRING>>",
        "map_from_entries(transform(array_distinct(transform("
        "split(s, concat('\\\\Q', ed, '\\\\E')),"
        " __e -> element_at(split(__e, concat('\\\\Q', kd, '\\\\E'), 2), 1))),"
        " __k -> struct(__k, transform(filter("
        "split(s, concat('\\\\Q', ed, '\\\\E')),"
        " __e -> element_at(split(__e, concat('\\\\Q', kd, '\\\\E'), 2), 1) = __k),"
        " __e -> try_element_at(split(__e, concat('\\\\Q', kd, '\\\\E'), 2), 2)))))",
    ),
    # membership in a JSON array of scalars, with Trino's TYPED matching:
    # a string probe matches only JSON string elements, a boolean probe
    # only JSON booleans, a numeric probe only JSON numbers (compared
    # numerically, so 1 matches 1.0 but not "1").  The VARIANT parameter
    # keeps the caller's SQL type across the UDF boundary (implicit cast
    # to VARIANT preserves it; schema_of_variant recovers it), and
    # per-element JSON types come from schema_of_variant over
    # try_variant_get — from_json can't distinguish "1" from 1 once
    # coerced to array<string>.  Malformed / non-array JSON → false
    # (json_array_length is NULL there); NULL json or probe → NULL.
    # Numeric compare goes through DOUBLE: exact for |n| < 2^53, the
    # same envelope Trino's json number parsing guarantees for doubles.
    "json_array_contains": (
        "(j STRING, v VARIANT)",
        "BOOLEAN",
        "CASE WHEN j IS NULL OR v IS NULL THEN NULL"
        " WHEN coalesce(json_array_length(j), 0) = 0 THEN false"
        " ELSE exists(sequence(0, json_array_length(j) - 1),"
        " __i -> coalesce(CASE"
        " WHEN schema_of_variant(v) = 'STRING' THEN"
        " schema_of_variant(try_variant_get(parse_json(j),"
        " concat('$[', CAST(__i AS STRING), ']'))) = 'STRING'"
        " AND try_variant_get(parse_json(j),"
        " concat('$[', CAST(__i AS STRING), ']'), 'string')"
        " = try_variant_get(v, '$', 'string')"
        " WHEN schema_of_variant(v) = 'BOOLEAN' THEN"
        " schema_of_variant(try_variant_get(parse_json(j),"
        " concat('$[', CAST(__i AS STRING), ']'))) = 'BOOLEAN'"
        " AND try_variant_get(parse_json(j),"
        " concat('$[', CAST(__i AS STRING), ']'), 'boolean')"
        " = try_variant_get(v, '$', 'boolean')"
        " ELSE"
        " schema_of_variant(try_variant_get(parse_json(j),"
        " concat('$[', CAST(__i AS STRING), ']')))"
        " NOT IN ('STRING', 'BOOLEAN', 'VOID')"
        " AND try_variant_get(parse_json(j),"
        " concat('$[', CAST(__i AS STRING), ']'), 'double')"
        " = try_variant_get(v, '$', 'double')"
        " END, false)) END",
    ),
    # Trino to_milliseconds(interval day to second) → BIGINT ms.
    # extract(SECOND) carries the fractional part, so sub-second
    # intervals survive the conversion
    "to_milliseconds": (
        "(i INTERVAL DAY TO SECOND)",
        "BIGINT",
        "CAST(extract(DAY FROM i) * 86400000 + extract(HOUR FROM i) * 3600000"
        " + extract(MINUTE FROM i) * 60000 + extract(SECOND FROM i) * 1000"
        " AS BIGINT)",
    ),
    # ---- dialect batch 9 (gap-hunt round 3) ----
    # IEEE-754 finiteness predicates (Trino math functions)
    "is_finite": (
        "(x DOUBLE)",
        "BOOLEAN",
        "CASE WHEN x IS NULL THEN NULL"
        " ELSE NOT (isnan(x) OR abs(x) = double('Infinity')) END",
    ),
    "is_infinite": (
        "(x DOUBLE)",
        "BOOLEAN",
        "CASE WHEN x IS NULL THEN NULL"
        " ELSE abs(x) = double('Infinity') END",
    ),
    # erf via Abramowitz & Stegun 7.1.26 (|error| <= 1.5e-7 — the
    # classical closed-form rational approximation; Spark has no erf).
    # Split into a Horner-polynomial helper so t = 1/(1+p|x|) is written
    # once (SQL UDFs have no local bindings).
    "__erf_poly": (
        "(t DOUBLE)",
        "DOUBLE",
        "((((1.061405429D * t - 1.453152027D) * t + 1.421413741D) * t"
        " - 0.284496736D) * t + 0.254829592D) * t",
    ),
    "__erf": (
        "(x DOUBLE)",
        "DOUBLE",
        "sign(x) * (1.0D - __erf_poly(1.0D / (1.0D + 0.3275911D * abs(x)))"
        " * exp(-x * x))",
    ),
    "normal_cdf": (
        "(m DOUBLE, sd DOUBLE, v DOUBLE)",
        "DOUBLE",
        "CASE WHEN m IS NULL OR sd IS NULL OR v IS NULL THEN NULL"
        " WHEN sd <= 0.0D THEN"
        " raise_error('normal_cdf: standardDeviation must be > 0')"
        " ELSE 0.5D * (1.0D + __erf((v - m) / (sd * sqrt(2.0D)))) END",
    ),
    # probit via Acklam's rational approximation (relative error
    # ~1.15e-9 — the widely published inverse-normal algorithm), split
    # per region: tail rational in q = sqrt(-2 ln p), central rational
    # in r = (p - 1/2)^2
    "__probit_tail": (
        "(q DOUBLE)",
        "DOUBLE",
        "(((((-7.784894002430293e-03D * q - 3.223964580411365e-01D) * q"
        " - 2.400758277161838e+00D) * q - 2.549732539343734e+00D) * q"
        " + 4.374664141464968e+00D) * q + 2.938163982698783e+00D)"
        " / ((((7.784695709041462e-03D * q + 3.224671290700398e-01D) * q"
        " + 2.445134137142996e+00D) * q + 3.754408661907416e+00D) * q"
        " + 1.0D)",
    ),
    "__probit_central": (
        "(q DOUBLE, r DOUBLE)",
        "DOUBLE",
        "q * (((((-3.969683028665376e+01D * r + 2.209460984245205e+02D) * r"
        " - 2.759285104469687e+02D) * r + 1.383577518672690e+02D) * r"
        " - 3.066479806614716e+01D) * r + 2.506628277459239e+00D)"
        " / (((((-5.447609879822406e+01D * r + 1.615858368580409e+02D) * r"
        " - 1.556989798598866e+02D) * r + 6.680131188771972e+01D) * r"
        " - 1.328068155288572e+01D) * r + 1.0D)",
    ),
    "__probit": (
        "(p DOUBLE)",
        "DOUBLE",
        "CASE WHEN p < 0.02425D THEN __probit_tail(sqrt(-2.0D * ln(p)))"
        " WHEN p > 0.97575D THEN -__probit_tail(sqrt(-2.0D * ln(1.0D - p)))"
        " ELSE __probit_central(p - 0.5D, (p - 0.5D) * (p - 0.5D)) END",
    ),
    "inverse_normal_cdf": (
        "(m DOUBLE, sd DOUBLE, p DOUBLE)",
        "DOUBLE",
        "CASE WHEN m IS NULL OR sd IS NULL OR p IS NULL THEN NULL"
        " WHEN sd <= 0.0D THEN"
        " raise_error('inverse_normal_cdf: standardDeviation must be > 0')"
        " WHEN p <= 0.0D OR p >= 1.0D THEN"
        " raise_error('inverse_normal_cdf: p must be in (0, 1)')"
        " ELSE m + sd * __probit(p) END",
    ),
    # session.py pins the engine to UTC (Trino-faithful instant
    # semantics): every timestamp in a query evaluates at offset zero,
    # so the zone-offset extractors are constant — kept as functions so
    # Trino SQL using them parses and returns the truthful value
    "timezone_hour": (
        "(t TIMESTAMP)",
        "BIGINT",
        "CASE WHEN t IS NULL THEN NULL ELSE 0L END",
    ),
    "timezone_minute": (
        "(t TIMESTAMP)",
        "BIGINT",
        "CASE WHEN t IS NULL THEN NULL ELSE 0L END",
    ),
    # Trino is_json_scalar: true for number/string/true/false/null JSON,
    # false for arrays/objects.  Per-type dispatch via variant (the
    # json_array_contains machinery); the literal 'null' is checked
    # textually because parse_json('null') is a variant null, not an
    # error.  Malformed input → false (Trino raises; the permissive
    # choice matches this layer's other json functions).
    "is_json_scalar": (
        "(j STRING)",
        "BOOLEAN",
        "CASE WHEN j IS NULL THEN NULL"
        " WHEN trim(j) = 'null' THEN true"
        " WHEN try_parse_json(j) IS NULL THEN false"
        " ELSE schema_of_variant(try_parse_json(j)) NOT LIKE 'ARRAY%'"
        " AND schema_of_variant(try_parse_json(j)) NOT LIKE 'OBJECT%'"
        " AND schema_of_variant(try_parse_json(j)) NOT LIKE 'STRUCT%' END",
    ),
    # binary SHA-512 (Spark spells it sha2(x, 512) and returns hex);
    # sha256 above set the pattern.  sha1/md5 keep their builtin NAMES
    # (shadowing them would break the plain Spark dialect) but the
    # trino dialect wraps each call in unhex() at translate time
    # (_rewrite_binary_hashes) so they return VARBINARY like Trino.
    "sha512": ("(x BINARY)", "BINARY", "unhex(sha2(x, 512))"),
    # big-endian integer encodings: hex(bigint) is the 64-bit two's
    # complement, so the byte image is a pad-and-unhex away
    "to_big_endian_64": (
        "(x BIGINT)",
        "BINARY",
        "unhex(lpad(hex(x), 16, '0'))",
    ),
    "from_big_endian_64": (
        "(b BINARY)",
        "BIGINT",
        "CAST(conv(hex(b), 16, -10) AS BIGINT)",
    ),
    "to_big_endian_32": (
        "(x INT)",
        "BINARY",
        "unhex(lpad(substr(hex(x), -8), 8, '0'))",
    ),
    "from_big_endian_32": (
        "(b BINARY)",
        "INT",
        # conv(…, 16, 10) reads the 4 bytes unsigned; re-sign manually
        # (a straight CAST of 4294967295 to INT is an ANSI overflow)
        "CAST(IF(CAST(conv(hex(b), 16, 10) AS BIGINT) >= 2147483648,"
        " CAST(conv(hex(b), 16, 10) AS BIGINT) - 4294967296,"
        " CAST(conv(hex(b), 16, 10) AS BIGINT)) AS INT)",
    ),
    # 3-arg strpos (nth occurrence, negative n = from the end) — the
    # 2-arg form resolves natively, so the rewrite maps only the 3-arg
    # call sites here (a UDF named strpos would shadow the builtin)
    "__strpos3": (
        "(s STRING, sub STRING, n INT)",
        "BIGINT",
        "CASE WHEN n = 0 THEN"
        " raise_error('strpos: instance must not be 0')"
        " WHEN s IS NULL OR sub IS NULL THEN NULL"
        " WHEN length(s) < length(sub) THEN 0"
        " ELSE coalesce(CAST(try_element_at(filter(transform("
        "sequence(1, length(s) - length(sub) + 1),"
        " __i -> IF(substring(s, __i, length(sub)) = sub, __i, NULL)),"
        " __x -> __x IS NOT NULL), n) AS BIGINT), 0) END",
    ),
    # Trino parse_data_size: decimal number + case-sensitive binary
    # unit (kB = 1024, MB = 1024², …) → DECIMAL(38,0) bytes
    "parse_data_size": (
        "(s STRING)",
        "DECIMAL(38,0)",
        "CASE WHEN s IS NULL THEN NULL"
        " WHEN NOT s RLIKE '^[0-9]+(\\\\.[0-9]+)?([kMGTPEZY]?B)?$' THEN"
        " raise_error(concat('Invalid data size: ', s))"
        " ELSE CAST(floor(CAST(regexp_extract(s, '^([0-9.]+)', 1) AS DECIMAL(38,10))"
        " * CAST(CASE regexp_extract(s, '([A-Za-z]*)$', 1)"
        " WHEN '' THEN 1 WHEN 'B' THEN 1"
        " WHEN 'kB' THEN 1024 WHEN 'MB' THEN 1048576"
        " WHEN 'GB' THEN 1073741824 WHEN 'TB' THEN 1099511627776"
        " WHEN 'PB' THEN 1125899906842624"
        " WHEN 'EB' THEN 1152921504606846976"
        " WHEN 'ZB' THEN 1180591620717411303424"
        " WHEN 'YB' THEN 1208925819614629174706176"
        " ELSE raise_error(concat('Invalid data size: ', s)) END"
        " AS DECIMAL(38,0))) AS DECIMAL(38,0)) END",
    ),
    # with_timezone(ts, zone): interpret the wall-clock timestamp in
    # `zone` and yield the instant — in this UTC-pinned engine that is
    # exactly to_utc_timestamp
    "with_timezone": (
        "(t TIMESTAMP, z STRING)",
        "TIMESTAMP",
        "to_utc_timestamp(t, z)",
    ),
    # double-vector math (the array forms; cosine_similarity's MAP form
    # is a separate existing UDF).  zip_with + aggregate keep the whole
    # computation inside codegen — the same primitives the LLM
    # similarity operators build on (operators/llm_similarity.py).
    "dot_product": (
        "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)",
        "DOUBLE",
        "aggregate(zip_with(a, b, (__x, __y) -> __x * __y), 0.0D,"
        " (__s, __v) -> __s + __v)",
    ),
    "l2_norm": (
        "(a ARRAY<DOUBLE>)",
        "DOUBLE",
        "sqrt(aggregate(a, 0.0D, (__s, __v) -> __s + __v * __v))",
    ),
    "euclidean_distance": (
        "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)",
        "DOUBLE",
        "sqrt(aggregate(zip_with(a, b, (__x, __y) -> (__x - __y) *"
        " (__x - __y)), 0.0D, (__s, __v) -> __s + __v))",
    ),
    "cosine_distance": (
        "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)",
        "DOUBLE",
        "1.0D - aggregate(zip_with(a, b, (__x, __y) -> __x * __y), 0.0D,"
        " (__s, __v) -> __s + __v)"
        " / (sqrt(aggregate(a, 0.0D, (__s, __v) -> __s + __v * __v))"
        " * sqrt(aggregate(b, 0.0D, (__s, __v) -> __s + __v * __v)))",
    ),
    # Trino multimap_from_entries(array(row(K, V))) → map<K, array<V>>.
    # String-typed like split_to_multimap (SQL UDFs need a concrete
    # signature; Trino's is generic) — entries coerce positionally.
    # Values for a repeated key aggregate in input order.
    "multimap_from_entries": (
        "(a ARRAY<STRUCT<k STRING, v STRING>>)",
        "MAP<STRING, ARRAY<STRING>>",
        "map_from_entries(transform(array_distinct(transform(a, __e -> __e.k)),"
        " __k -> struct(__k, transform(filter(a, __e -> __e.k = __k),"
        " __e -> __e.v))))",
    ),
}

#: plain renames applied outside literals (aggregates and exact-arity
#: synonyms a SQL UDF cannot express)
_RENAMES = [
    (re.compile(r"\bapprox_distinct\s*\(", re.IGNORECASE), "approx_count_distinct("),
    (re.compile(r"\bapprox_percentile\s*\(", re.IGNORECASE), "percentile_approx("),
    (re.compile(r"\barbitrary\s*\(", re.IGNORECASE), "any_value("),
    # Trino contains(array, elem) == Spark array_contains (exact-arity
    # synonym; Trino's string containment is position/strpos, not this)
    (re.compile(r"\bcontains\s*\(", re.IGNORECASE), "array_contains("),
    # bare CAST(x AS VARCHAR) — ubiquitous in Trino, and length-less
    # VARCHAR is unbounded there, so STRING is the faithful mapping
    # (VARCHAR(n) stays untouched).  Bare CHAR is NOT rewritten: Trino
    # reads it as CHAR(1), so a STRING rename would silently change
    # results — it fails Spark analysis loudly instead.
    (re.compile(r"\bVARCHAR\b(?!\s*\()", re.IGNORECASE), "STRING"),
    # Trino's binary type name; Spark spells it BINARY
    (re.compile(r"\bVARBINARY\b", re.IGNORECASE), "BINARY"),
    # Trino reduce(arr, init, merge, finish) == Spark aggregate(...)
    (re.compile(r"\breduce\s*\(", re.IGNORECASE), "aggregate("),
    (re.compile(r"\blevenshtein_distance\s*\(", re.IGNORECASE), "levenshtein("),
    # higher-order predicates: Trino any_match/all_match are Spark's
    # exists/forall (identical lambda syntax both engines); none_match
    # needs a parenthesized negation (composed rewrite below — a bare
    # `NOT exists(...)` prefix inverts under postfix operators like
    # IS NULL, which bind tighter than NOT)
    (re.compile(r"\bany_match\s*\(", re.IGNORECASE), "exists("),
    (re.compile(r"\ball_match\s*\(", re.IGNORECASE), "forall("),
    # printf-style format (format_datetime is handled separately and
    # cannot match here — the \( must follow "format" directly)
    (re.compile(r"\bformat\s*\(", re.IGNORECASE), "format_string("),
    (re.compile(r"\blast_day_of_month\s*\(", re.IGNORECASE), "last_day("),
    # Trino zip(a, b, ...) == Spark arrays_zip (pairwise struct rows;
    # Spark names the struct fields after the inputs instead of Trino's
    # positional row fields — values are identical)
    (re.compile(r"\bzip\s*\(", re.IGNORECASE), "arrays_zip("),
    # Trino index(string, substring) == strpos == Spark instr
    (re.compile(r"\bindex\s*\(", re.IGNORECASE), "instr("),
    # Trino starts_with == Spark startswith (Spark also has a
    # startswith; only the underscore spelling needs the move)
    (re.compile(r"\bstarts_with\s*\(", re.IGNORECASE), "startswith("),
    # bare localtimestamp keyword (Trino) → Spark's function call form
    (re.compile(r"\blocaltimestamp\b(?!\s*\()", re.IGNORECASE), "localtimestamp()"),
    # bare session-context keywords → Spark's function-call spellings
    (re.compile(r"\bcurrent_catalog\b(?!\s*\()", re.IGNORECASE), "current_catalog()"),
    (re.compile(r"\bcurrent_schema\b(?!\s*\()", re.IGNORECASE), "current_schema()"),
    (re.compile(r"\bregexp_split\s*\(", re.IGNORECASE), "split("),
    (re.compile(r"\bbitwise_and_agg\s*\(", re.IGNORECASE), "bit_and("),
    (re.compile(r"\bbitwise_or_agg\s*\(", re.IGNORECASE), "bit_or("),
    (re.compile(r"\bbitwise_xor_agg\s*\(", re.IGNORECASE), "bit_xor("),
    # Trino's extract-field shorthands Spark spells out
    (
        re.compile(r"\bextract\s*\(\s*YOW\b", re.IGNORECASE),
        "extract(YEAROFWEEK",
    ),
    # binary codecs: same semantics, different names
    (re.compile(r"\bfrom_hex\s*\(", re.IGNORECASE), "unhex("),
    (re.compile(r"\bto_hex\s*\(", re.IGNORECASE), "hex("),
    # the \( anchor keeps to_base64url/from_base64url (handled as
    # templates) from matching here
    (re.compile(r"\bto_base64\s*\(", re.IGNORECASE), "base64("),
    (re.compile(r"\bfrom_base64\s*\(", re.IGNORECASE), "unbase64("),
    # Trino repeat(elem, n) builds an ARRAY (its string-repeat is via
    # concat); Spark's repeat is string-repeat, so the name must move
    (re.compile(r"\brepeat\s*\(", re.IGNORECASE), "array_repeat("),
    # Trino's non-empty MAP constructor takes (key_array, value_array);
    # Spark's variadic map() would silently read the two arrays as ONE
    # {k_arr: v_arr} entry, so the name must move to map_from_arrays.
    # `MAP()` (empty) is identical in both and excluded; `AS MAP(...)`
    # in a CAST is a type, not a call, and excluded by the lookbehind.
    (
        re.compile(r"(?<![Aa][Ss]\s)\bMAP\s*\((?!\s*\))", re.IGNORECASE),
        "map_from_arrays(",
    ),
    # Trino from_unixtime returns a timestamp; Spark's builtin of that
    # name returns a formatted STRING.  timestamp_seconds is the
    # faithful 1-arg mapping; Trino's 2/3-arg tz forms then fail Spark
    # analysis loudly instead of silently changing type.
    (re.compile(r"\bfrom_unixtime\s*\(", re.IGNORECASE), "timestamp_seconds("),
    (re.compile(r"\bcodepoint\s*\(", re.IGNORECASE), "ascii("),
    # Spark's builtin chr() wraps at 256 (chr(955) = '»'); Trino's is a
    # true codepoint→char.  The builtin cannot be shadowed by a SQL UDF,
    # so the name moves to the compat UDF.
    (re.compile(r"\bchr\s*\(", re.IGNORECASE), "trino_chr("),
    # Trino positional ROW(...) constructor == Spark struct(...)
    # (type-position ROW(...) was already converted to STRUCT<...> by
    # _rewrite_cast_types, so remaining ROW( are value constructors)
    (re.compile(r"\bROW\s*\(", re.IGNORECASE), "struct("),
    # at_timezone(ts, zone): under this engine's pinned UTC session,
    # shifting the wall clock with from_utc_timestamp reproduces the
    # zone-local rendering Trino users read off the result
    (re.compile(r"\bat_timezone\s*\(", re.IGNORECASE), "from_utc_timestamp("),
    # Trino SHOW … FROM catalog ↔ Spark SHOW … IN catalog
    (
        re.compile(r"\b(SHOW\s+(?:SCHEMAS|TABLES|COLUMNS))\s+FROM\b", re.IGNORECASE),
        r"\1 IN",
    ),
    # ANSI FETCH FIRST n ROWS ONLY → LIMIT n
    (
        re.compile(
            r"\bFETCH\s+(?:FIRST|NEXT)\s+(?:(\d+)\s+)?ROWS?\s+ONLY\b",
            re.IGNORECASE,
        ),
        lambda m: f"LIMIT {m.group(1) or 1}",
    ),
    # ANSI OFFSET n ROW[S] → Spark's bare OFFSET n (must precede the
    # clause-order swap below so `OFFSET 2 ROWS LIMIT 3` normalizes)
    (re.compile(r"\bOFFSET\s+(\d+)\s+ROWS?\b", re.IGNORECASE), r"OFFSET \1"),
    # Trino clause order is OFFSET then LIMIT; Spark parses LIMIT first
    (
        re.compile(r"\bOFFSET\s+(\d+)\s+LIMIT\s+(\d+)\b", re.IGNORECASE),
        r"LIMIT \2 OFFSET \1",
    ),
    # Trino TABLESAMPLE BERNOULLI(p) / SYSTEM(p) → Spark (p PERCENT).
    # Both engines sample non-deterministically; row-level vs
    # block-level granularity differs for SYSTEM, which only affects
    # sampling variance, not semantics.
    (
        re.compile(
            r"\bTABLESAMPLE\s+(?:BERNOULLI|SYSTEM)\s*\(\s*([0-9.]+)\s*\)",
            re.IGNORECASE,
        ),
        r"TABLESAMPLE (\1 PERCENT)",
    ),
]

#: Trino 3-arg date arith spans a literal: ``date_add('day', n, x)`` →
#: ``timestampadd(day, n, x)``.  The function name sits in a code
#: segment and the unit in the following literal segment, so these are
#: rewritten across the segment boundary in ``translate``.
_UNIT_FNS = {
    re.compile(r"\bdate_add\s*\(\s*$", re.IGNORECASE): "timestampadd(",
    re.compile(r"\bdate_diff\s*\(\s*$", re.IGNORECASE): "timestampdiff(",
}
_UNIT_LITERAL = re.compile(r"^'(\w+)'$")


#: marker attribute set on the SparkSession instance itself — id(spark)
#: can be recycled after GC, which would silently skip installation on a
#: fresh session; an instance attribute dies with the session object.
_INSTALLED_ATTR = "_mcp_trino_compat_installed"


#: XXH64 primes (public specification, github.com/Cyan4973/xxHash)
_XXH_P1 = 11400714785074694791
_XXH_P2 = 14029467366897019727
_XXH_P3 = 1609587929392839161
_XXH_P4 = 9650029242287828579
_XXH_P5 = 2870177450012600261


def _xxh64_one(data: bytes) -> bytes:
    """Reference XXH64 (seed 0), one value, big-endian digest bytes —
    the per-row oracle the vectorized ``_xxh64_batch`` is pinned
    against (plus the published test vectors in
    tests/test_trino_compat.py)."""
    P1, P2, P3, P4, P5 = _XXH_P1, _XXH_P2, _XXH_P3, _XXH_P4, _XXH_P5
    M = (1 << 64) - 1

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & M

    n, i = len(data), 0
    if n >= 32:
        v1, v2, v3, v4 = (P1 + P2) & M, P2, 0, (-P1) & M
        while i + 32 <= n:
            for off, v in enumerate((v1, v2, v3, v4)):
                lane = int.from_bytes(data[i + off * 8 : i + off * 8 + 8], "little")
                v = (rotl((v + lane * P2) & M, 31) * P1) & M
                if off == 0:
                    v1 = v
                elif off == 1:
                    v2 = v
                elif off == 2:
                    v3 = v
                else:
                    v4 = v
            i += 32
        h = (rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)) & M
        for v in (v1, v2, v3, v4):
            h = ((h ^ ((rotl((v * P2) & M, 31) * P1) & M)) * P1 + P4) & M
    else:
        h = P5  # seed 0
    h = (h + n) & M
    while i + 8 <= n:
        lane = int.from_bytes(data[i : i + 8], "little")
        h ^= (rotl((lane * P2) & M, 31) * P1) & M
        h = (rotl(h, 27) * P1 + P4) & M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * P1) & M
        h = (rotl(h, 23) * P2 + P3) & M
        i += 4
    while i < n:
        h ^= (data[i] * P5) & M
        h = (rotl(h, 11) * P1) & M
        i += 1
    h ^= h >> 33
    h = (h * P2) & M
    h ^= h >> 29
    h = (h * P3) & M
    h ^= h >> 32
    return h.to_bytes(8, "big")


def _xxh64_batch(values) -> list:
    """Vectorized XXH64 (seed 0) over a batch of bytes-or-None values
    (VERDICT r11 #3): all per-byte work happens in numpy uint64 lanes
    across the WHOLE Arrow batch — the loops below iterate over stripe
    INDEX (data-dependent, masked to still-active rows), never over
    rows, so the Python-level cost is O(max_stripes), not O(rows).
    Returns big-endian 8-byte digests, None preserved.

    Layout: rows are concatenated into one uint8 buffer with an
    offsets array (Arrow's own varbinary layout); 32-byte stripes are
    gathered with fancy indexing and viewed as 4 little-endian uint64
    lanes.  uint64 arithmetic wraps mod 2^64 in numpy, which is
    exactly the XXH64 contract.
    """
    import numpy as np

    present = [v is not None for v in values]
    datas = [bytes(v) if p else b"" for v, p in zip(values, present)]
    nrows = len(datas)
    if nrows == 0:
        return []
    lens = np.fromiter((len(d) for d in datas), dtype=np.int64, count=nrows)
    row_off = np.zeros(nrows, dtype=np.int64)
    np.cumsum(lens[:-1], out=row_off[1:])
    joined = b"".join(datas)
    buf = np.frombuffer(joined, dtype=np.uint8)

    P1, P2, P3, P4, P5 = (
        np.uint64(_XXH_P1), np.uint64(_XXH_P2), np.uint64(_XXH_P3),
        np.uint64(_XXH_P4), np.uint64(_XXH_P5),
    )

    def rotl(x, r):
        return (x << np.uint64(r)) | (x >> np.uint64(64 - r))

    def gather(starts, width):
        ix = starts[:, None] + np.arange(width, dtype=np.int64)
        return buf[ix.ravel()].reshape(-1, width)

    h = np.full(nrows, P5, dtype=np.uint64)

    big = np.nonzero(lens >= 32)[0]
    if big.size:
        nblocks = lens[big] // 32
        v = np.empty((4, big.size), dtype=np.uint64)
        v[0] = np.uint64((_XXH_P1 + _XXH_P2) & ((1 << 64) - 1))
        v[1] = P2
        v[2] = np.uint64(0)
        v[3] = np.uint64((-_XXH_P1) & ((1 << 64) - 1))
        for j in range(int(nblocks.max())):
            act = np.nonzero(nblocks > j)[0]
            lanes = gather(row_off[big[act]] + 32 * j, 32).view("<u8")
            for k in range(4):
                v[k, act] = rotl(v[k, act] + lanes[:, k] * P2, 31) * P1
        hb = rotl(v[0], 1) + rotl(v[1], 7) + rotl(v[2], 12) + rotl(v[3], 18)
        for k in range(4):
            hb = (hb ^ (rotl(v[k] * P2, 31) * P1)) * P1 + P4
        h[big] = hb

    h += lens.astype(np.uint64)
    i = np.where(lens >= 32, (lens // 32) * 32, 0)
    rem = lens - i
    for _ in range(3):  # tail 8-byte lanes: remainder < 32 → ≤3 rounds
        act = np.nonzero(rem >= 8)[0]
        if not act.size:
            break
        lane = gather(row_off[act] + i[act], 8).view("<u8").ravel()
        hh = h[act]
        hh = hh ^ (rotl(lane * P2, 31) * P1)
        h[act] = rotl(hh, 27) * P1 + P4
        i[act] += 8
        rem[act] -= 8
    act = np.nonzero(rem >= 4)[0]
    if act.size:
        lane = gather(row_off[act] + i[act], 4).view("<u4").ravel().astype(np.uint64)
        hh = h[act] ^ (lane * P1)
        h[act] = rotl(hh, 23) * P2 + P3
        i[act] += 4
        rem[act] -= 4
    for _ in range(3):  # trailing bytes: remainder < 4 → ≤3 rounds
        act = np.nonzero(rem >= 1)[0]
        if not act.size:
            break
        b = buf[row_off[act] + i[act]].astype(np.uint64)
        hh = h[act] ^ (b * P5)
        h[act] = rotl(hh, 11) * P1
        i[act] += 1
        rem[act] -= 1
    h ^= h >> np.uint64(33)
    h *= P2
    h ^= h >> np.uint64(29)
    h *= P3
    h ^= h >> np.uint64(32)

    digests = h.astype(">u8").tobytes()
    return [
        digests[8 * r : 8 * r + 8] if present[r] else None
        for r in range(nrows)
    ]


def _trino_d2s(x):
    """Trino's CAST(double AS VARCHAR) rendering (always-scientific
    shortest-roundtrip, Trino 373+): 1.5 → '1.5E0', 0.0 → '0E0',
    -0.0 → '-0E0'.  Module-level so the translate layer can
    CONSTANT-FOLD literal operands (Catalyst canonicalizes ±0.0
    literals to one constant, conflating '0E0'/'-0E0' at runtime —
    column values are unaffected).  Arrow surfaces SQL NULL doubles as
    NaN — indistinguishable from a true NaN here, so NaN maps to None
    and the REWRITE supplies 'NaN' for true NaNs via a JVM-side
    isnan() guard before the UDF is reached."""
    import math as _m
    from decimal import Decimal as _Dec

    if x is None or _m.isnan(x):
        return None
    x = float(x)
    if _m.isinf(x):
        return "Infinity" if x > 0 else "-Infinity"
    if x == 0.0:
        return "-0E0" if _m.copysign(1.0, x) < 0 else "0E0"
    sign, digits, exp = _Dec(repr(x)).normalize().as_tuple()
    adj = exp + len(digits) - 1
    mant = str(digits[0]) + (
        "." + "".join(map(str, digits[1:])) if len(digits) > 1 else ""
    )
    return ("-" if sign else "") + mant + "E" + str(adj)


def _trino_r2s(x):
    """Float32 variant of _trino_d2s (Trino REAL rendering — numpy's
    format_float_positional(unique=True) IS the float32
    shortest-roundtrip, Dragon4, same contract as Trino's Ryu)."""
    import math as _m
    from decimal import Decimal as _Dec

    import numpy as _np

    if x is None or _m.isnan(x):
        return None
    f = _np.float32(x)
    fx = float(f)
    if _m.isinf(fx):
        return "Infinity" if fx > 0 else "-Infinity"
    if fx == 0.0:
        return "-0E0" if _m.copysign(1.0, fx) < 0 else "0E0"
    short = _np.format_float_positional(f, unique=True, trim="-")
    sign, digits, exp = _Dec(short).normalize().as_tuple()
    adj = exp + len(digits) - 1
    mant = str(digits[0]) + (
        "." + "".join(map(str, digits[1:])) if len(digits) > 1 else ""
    )
    return ("-" if sign else "") + mant + "E" + str(adj)


def install_compat_functions(spark) -> None:
    """Install the Trino-name scalar functions as Spark SQL UDFs, once
    per SparkSession (12 DDL round-trips would otherwise tax every
    dialect='trino' call)."""
    if getattr(spark, _INSTALLED_ATTR, False):
        return
    # (the SQL temp functions are created at the END of this installer:
    # CREATE FUNCTION analyzes the body immediately, and json_size's
    # body references the json_extract pandas UDF registered below)

    # normalize() needs the unicodedata tables — the one compat function
    # that cannot be pure SQL.  Arrow-vectorized pandas UDF (dialect
    # convenience, not a hot-path operator).
    import pandas as pd
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    def _normalize_impl(s, form):
        return pd.Series(
            [None if x is None else unicodedata.normalize(f, x)
             for x, f in zip(s, form)]
        )

    # real annotation objects: this module's `from __future__ import
    # annotations` would stringify inline hints, which pandas_udf's
    # signature inspection cannot resolve
    _normalize_impl.__annotations__ = {
        "s": pd.Series, "form": pd.Series, "return": pd.Series,
    }
    spark.udf.register("unicode_normalize", pandas_udf(_normalize_impl, "string"))

    # Trino renders CAST(double AS VARCHAR) in always-scientific
    # shortest-roundtrip form since Trino 373 ("The result of casting
    # double and real values to varchar now uses scientific notation"):
    # 1.5 → '1.5E0', 100.0 → '1E2', 0.0 → '0E0', NaN → 'NaN' — Spark
    # renders '1.5'/'100.0'.  Python's repr is the same
    # shortest-roundtrip decimal (unique), re-formatted to Ryu's
    # scientific shape.  Arrow-vectorized; reached only from
    # user-spelled CASTs over knowable-double operands
    # (_rewrite_cast_rounding), so never a hot-path operator.
    def _d2s_impl(s):
        return pd.Series([_trino_d2s(x) for x in s])

    _d2s_impl.__annotations__ = {"s": pd.Series, "return": pd.Series}
    spark.udf.register(
        "trino_double_to_varchar", pandas_udf(_d2s_impl, "string")
    )

    # REAL variant (round-12 residue closure): Trino renders REAL in
    # the same always-scientific shortest-roundtrip form but computed
    # over FLOAT32 — CAST(REAL '0.1' AS VARCHAR) is '1E-1' while the
    # float64 path would say '1.0000000149011612E-1'.  numpy's
    # format_float_positional(unique=True) IS the float32
    # shortest-roundtrip (Dragon4, same contract as Trino's Ryu).
    def _r2s_impl(s):
        return pd.Series([_trino_r2s(x) for x in s])

    _r2s_impl.__annotations__ = {"s": pd.Series, "return": pd.Series}
    spark.udf.register(
        "trino_real_to_varchar", pandas_udf(_r2s_impl, "string")
    )

    # Standard XXH64 (seed 0) over raw bytes, big-endian VARBINARY out —
    # Trino's xxhash64 contract (see _xxh64_batch / _xxh64_one at module
    # level: numpy-vectorized across the Arrow batch, ~µs/row Python cost
    # removed per VERDICT r11 #3).
    def _xxh64_impl(s):
        return pd.Series(_xxh64_batch(list(s)), index=s.index, dtype=object)

    _xxh64_impl.__annotations__ = {"s": pd.Series, "return": pd.Series}
    spark.udf.register("trino_xxhash64", pandas_udf(_xxh64_impl, "binary"))

    # Trino upper()/lower() are SIMPLE (1:1 code point) case mappings;
    # the divergence from Spark's full-mapping builtins is closed
    # entirely JVM-side by _rewrite_simple_case (translate/ucase/lcase
    # composition — no UDF needed, legal inside lambdas).

    # Exact Trino JSON-path semantics (see the note in _COMPAT_SQL_UDFS):
    # json_extract_scalar → NULL for object/array matches, scalar text
    # otherwise; json_extract → JSON-serialized value (strings QUOTED).
    # Malformed JSON documents yield NULL (Trino json functions treat
    # undecodable input as no-match); malformed PATHS raise — a path is
    # query text, not data.
    import json as _json

    def _walk(doc: str, path: str):
        toks = _json_path_tokens(path)  # raises on bad path
        try:
            v = _json.loads(doc)
        except (ValueError, TypeError):
            return False, None
        for t in toks:
            if isinstance(t, str) and isinstance(v, dict) and t in v:
                v = v[t]
            elif isinstance(t, int) and isinstance(v, list) and 0 <= t < len(v):
                v = v[t]
            else:
                return False, None
        return True, v

    def _jes_impl(j, p):
        out = []
        for doc, path in zip(j, p):
            if doc is None or path is None:
                out.append(None)
                continue
            found, v = _walk(doc, path)
            if not found or v is None or isinstance(v, (dict, list)):
                out.append(None)
            elif isinstance(v, bool):
                out.append("true" if v else "false")
            elif isinstance(v, str):
                out.append(v)
            else:
                out.append(_json.dumps(v))
        return pd.Series(out, dtype="object")

    def _je_impl(j, p):
        out = []
        for doc, path in zip(j, p):
            if doc is None or path is None:
                out.append(None)
                continue
            found, v = _walk(doc, path)
            # ensure_ascii=False: Trino's extractor (Jackson) emits raw
            # UTF-8 — the default \uXXXX escaping silently diverged on
            # every non-ASCII string (differential-sweep catch, r11)
            out.append(
                _json.dumps(v, separators=(",", ":"), ensure_ascii=False)
                if found
                else None
            )
        return pd.Series(out, dtype="object")

    for fn in (_jes_impl, _je_impl):
        fn.__annotations__ = {"j": pd.Series, "p": pd.Series, "return": pd.Series}
    spark.udf.register("json_extract_scalar", pandas_udf(_jes_impl, "string"))
    spark.udf.register("json_extract", pandas_udf(_je_impl, "string"))

    # word_stem: Porter's published algorithm (functions/porter.py) —
    # Trino's English stemmer is the same algorithm via Lucene/Snowball.
    # Trino lowercase-stems as-is; non-letter-bearing tokens pass through
    from mcp_trino_spark.functions.porter import porter_stem

    def _stem_impl(s):
        return pd.Series(
            [None if x is None else porter_stem(x.lower()) for x in s]
        )

    _stem_impl.__annotations__ = {"s": pd.Series, "return": pd.Series}
    spark.udf.register("word_stem", pandas_udf(_stem_impl, "string"))

    # human_readable_seconds: Trino's week/day/hour/minute/second
    # formatter (rounds the double; negative/NaN raise like Trino's
    # INVALID_FUNCTION_ARGUMENT)
    import math as _math

    def _hrs_one(x):
        # Arrow hands SQL NULL doubles to pandas as NaN, so NULL and a
        # literal NaN are indistinguishable here — both map to NULL
        # (Trino raises on NaN; the distinction is unrecoverable at
        # this boundary and NULL-in-NULL-out is the safe reading)
        if x is None:
            return None
        x = float(x)  # decimal literals arrive as decimal.Decimal
        if _math.isnan(x):
            return None
        if _math.isinf(x) or x < 0:
            raise ValueError(
                f"human_readable_seconds: invalid argument {x!r} "
                "(needs a finite non-negative number of seconds)"
            )
        # half-up like Trino's Math.round — Python round() half-evens
        # (0.5 → '0 seconds' instead of '1 second')
        t = int(_math.floor(x + 0.5))
        parts = []
        for unit, size in (
            ("week", 604800), ("day", 86400), ("hour", 3600),
            ("minute", 60), ("second", 1),
        ):
            n, t = divmod(t, size)
            if n:
                parts.append(f"{n} {unit}" + ("s" if n != 1 else ""))
        return ", ".join(parts) if parts else "0 seconds"

    def _hrs_impl(s):
        return pd.Series([_hrs_one(x) for x in s])

    _hrs_impl.__annotations__ = {"s": pd.Series, "return": pd.Series}
    spark.udf.register("human_readable_seconds", pandas_udf(_hrs_impl, "string"))

    # beta_cdf: regularized incomplete beta I_x(a, b) via the classical
    # continued-fraction expansion (modified Lentz iteration — standard
    # public numerical method; scipy is not in the sandbox and the
    # iteration has no closed SQL form).  Arrow-vectorized over numpy;
    # fixed 200 iterations converge to ~1e-14 for all admissible (a, b).
    # Domain errors raise like Trino's INVALID_FUNCTION_ARGUMENT.
    import numpy as _np
    from math import lgamma as _lgamma

    def _betacf(a, b, x):
        FPMIN = 1e-300
        qab, qap, qam = a + b, a + 1.0, a - 1.0
        c = _np.ones_like(x)
        d = 1.0 - qab * x / qap
        d = _np.where(_np.abs(d) < FPMIN, FPMIN, d)
        d = 1.0 / d
        h = d.copy()
        for m in range(1, 201):
            m2 = 2 * m
            aa = m * (b - m) * x / ((qam + m2) * (a + m2))
            d = 1.0 + aa * d
            d = 1.0 / _np.where(_np.abs(d) < FPMIN, FPMIN, d)
            c = 1.0 + aa / c
            c = _np.where(_np.abs(c) < FPMIN, FPMIN, c)
            h = h * d * c
            aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
            d = 1.0 + aa * d
            d = 1.0 / _np.where(_np.abs(d) < FPMIN, FPMIN, d)
            c = 1.0 + aa / c
            c = _np.where(_np.abs(c) < FPMIN, FPMIN, c)
            h = h * d * c
        return h

    def _beta_cdf_impl(a, b, v):
        av = _np.asarray(a, dtype=float)
        bv = _np.asarray(b, dtype=float)
        xv = _np.asarray(v, dtype=float)
        ok = ~(_np.isnan(av) | _np.isnan(bv) | _np.isnan(xv))
        if _np.any(ok & ((av <= 0) | (bv <= 0))):
            raise ValueError("beta_cdf: a and b must be > 0")
        if _np.any(ok & ((xv < 0) | (xv > 1))):
            raise ValueError("beta_cdf: value must be in [0, 1]")
        lg = _np.vectorize(_lgamma, otypes=[float])
        with _np.errstate(all="ignore"):
            # symmetry: compute the direct series where it converges
            # fastest, else 1 - I_{1-x}(b, a)
            direct = xv < (av + 1.0) / (av + bv + 2.0)
            aa_ = _np.where(direct, av, bv)
            bb_ = _np.where(direct, bv, av)
            xx = _np.where(direct, xv, 1.0 - xv)
            xs = _np.clip(xx, 1e-300, 1.0 - 1e-16)
            lbeta = lg(aa_) + lg(bb_) - lg(aa_ + bb_)
            front = _np.exp(
                aa_ * _np.log(xs) + bb_ * _np.log1p(-xs) - lbeta
            )
            res = front * _betacf(aa_, bb_, xs) / aa_
            res = _np.where(direct, res, 1.0 - res)
            res = _np.where(xv <= 0.0, 0.0, _np.where(xv >= 1.0, 1.0, res))
            res = _np.where(ok, res, _np.nan)
        return pd.Series(res)

    _beta_cdf_impl.__annotations__ = {
        "a": pd.Series, "b": pd.Series, "v": pd.Series, "return": pd.Series,
    }
    spark.udf.register("beta_cdf", pandas_udf(_beta_cdf_impl, "double"))

    # Trino HMAC family: keyed digests over varbinary.  Python's hmac
    # is the reference implementation; Arrow-batched (dialect
    # convenience, not a hot-path operator).
    import hashlib as _hashlib
    import hmac as _hmac

    def _make_hmac(digest):
        def impl(msg, key):
            return pd.Series(
                [
                    None
                    if m is None or k is None
                    else _hmac.new(bytes(k), bytes(m), digest).digest()
                    for m, k in zip(msg, key)
                ]
            )

        impl.__annotations__ = {
            "msg": pd.Series, "key": pd.Series, "return": pd.Series,
        }
        return impl

    for name, digest in (
        ("hmac_md5", _hashlib.md5),
        ("hmac_sha1", _hashlib.sha1),
        ("hmac_sha256", _hashlib.sha256),
        ("hmac_sha512", _hashlib.sha512),
    ):
        spark.udf.register(name, pandas_udf(_make_hmac(digest), "binary"))

    # Trino murmur3(varbinary) → 16-byte MurmurHash3 x64_128 digest.
    # Implemented from Austin Appleby's public-domain algorithm (two
    # 64-bit lanes, 16-byte blocks, fmix64 finalizer); Spark's builtin
    # hash() is the x86_32 variant, a different function entirely.
    _M = (1 << 64) - 1
    _C1, _C2 = 0x87C37B91114253D5, 0x4CF5AD432745937F

    def _rotl64(x, r):
        return ((x << r) | (x >> (64 - r))) & _M

    def _fmix64(k):
        k ^= k >> 33
        k = (k * 0xFF51AFD7ED558CCD) & _M
        k ^= k >> 33
        k = (k * 0xC4CEB9FE1A85EC53) & _M
        k ^= k >> 33
        return k

    def _murmur3_128(data: bytes) -> bytes:
        h1 = h2 = 0
        n = len(data)
        nblocks = n // 16
        for i in range(nblocks):
            k1 = int.from_bytes(data[i * 16 : i * 16 + 8], "little")
            k2 = int.from_bytes(data[i * 16 + 8 : i * 16 + 16], "little")
            k1 = (_rotl64((k1 * _C1) & _M, 31) * _C2) & _M
            h1 = (((_rotl64(h1 ^ k1, 27) + h2) & _M) * 5 + 0x52DCE729) & _M
            k2 = (_rotl64((k2 * _C2) & _M, 33) * _C1) & _M
            h2 = (((_rotl64(h2 ^ k2, 31) + h1) & _M) * 5 + 0x38495AB5) & _M
        tail = data[nblocks * 16 :]
        k1 = k2 = 0
        if len(tail) > 8:
            k2 = int.from_bytes(tail[8:].ljust(8, b"\0"), "little")
            h2 ^= (_rotl64((k2 * _C2) & _M, 33) * _C1) & _M
        if tail:
            k1 = int.from_bytes(tail[:8].ljust(8, b"\0"), "little")
            h1 ^= (_rotl64((k1 * _C1) & _M, 31) * _C2) & _M
        h1 ^= n
        h2 ^= n
        h1 = (h1 + h2) & _M
        h2 = (h2 + h1) & _M
        h1 = _fmix64(h1)
        h2 = _fmix64(h2)
        h1 = (h1 + h2) & _M
        h2 = (h2 + h1) & _M
        return h1.to_bytes(8, "little") + h2.to_bytes(8, "little")

    def _murmur3_impl(b):
        return pd.Series(
            [None if x is None else _murmur3_128(bytes(x)) for x in b]
        )

    _murmur3_impl.__annotations__ = {"b": pd.Series, "return": pd.Series}
    spark.udf.register("murmur3", pandas_udf(_murmur3_impl, "binary"))

    # Trino's 1-arg format_number: humanized 3-significant-digit form
    # with K/M/B/T/Q unit symbols (123456 → '123K', 1234567 → '1.23M')
    def _fmtnum_one(x):
        if x is None or (isinstance(x, float) and _math.isnan(x)):
            return None
        neg = x < 0
        v = abs(float(x))
        units = ["", "K", "M", "B", "T", "Q"]
        g = 0
        while v >= 1000 and g < len(units) - 1:
            v /= 1000.0
            g += 1
        if g == 0 and float(x) == int(x):
            s = str(int(v))
        elif v >= 100:
            s = f"{v:.0f}"
        elif v >= 10:
            s = f"{v:.1f}"
        else:
            s = f"{v:.2f}"
        return ("-" if neg else "") + s + units[g]

    def _fmtnum_impl(s):
        return pd.Series([_fmtnum_one(x) for x in s])

    _fmtnum_impl.__annotations__ = {"s": pd.Series, "return": pd.Series}
    spark.udf.register(
        "__format_number_human", pandas_udf(_fmtnum_impl, "string")
    )

    # Trino SetDigest family (KMV sketches — functions/setdigest.py)
    from mcp_trino_spark.functions.setdigest import register_setdigest_functions

    register_setdigest_functions(spark)
    for name, (args, rtype, body) in _COMPAT_SQL_UDFS.items():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{args} RETURNS {rtype} RETURN {body}"
        )
    setattr(spark, _INSTALLED_ATTR, True)


_JSON_PATH_STEP = re.compile(
    r"\.(?P<name>[A-Za-z_][A-Za-z0-9_]*)"
    r"|\[\s*(?P<idx>\d+)\s*\]"
    r'|\[\s*"(?P<qname>[^"]*)"\s*\]'
)


def _json_path_tokens(path: str):
    """Parse the supported JSON-path subset ``$.k[0]["q"]...`` into
    key/index tokens; anything else raises (a malformed path is a query
    bug, never data)."""
    if not isinstance(path, str) or not path.startswith("$"):
        raise ValueError(f"unsupported JSON path {path!r} (must start with $)")
    toks: list = []
    i = 1
    while i < len(path):
        m = _JSON_PATH_STEP.match(path, i)
        if m is None:
            raise ValueError(
                f"unsupported JSON path step at {path[i:]!r} "
                "(supported: $.name, [idx], [\"name\"])"
            )
        if m.group("name") is not None:
            toks.append(m.group("name"))
        elif m.group("qname") is not None:
            toks.append(m.group("qname"))
        else:
            toks.append(int(m.group("idx")))
        i = m.end()
    return toks


#: jump table for the lexer: the next position that can END a code run
#: (quote chars and comment openers).  Searching with a compiled regex
#: skips whole code runs at C speed instead of stepping per character —
#: _segments underlies every _code_mask and dominated translate() time
#: on comparison-heavy batches before this (round-13 profile: 84%).
_SEG_SPECIAL = re.compile(r"['\"`]|--|/\*")


def _segments(q: str) -> Iterator[Tuple[bool, str]]:
    """Yield (is_code, text) segments: string literals, quoted
    identifiers, and comments are non-code (same lexical rules as the
    read-only classifier's sanitizer, reference client.go:386-471)."""
    i, n = 0, len(q)
    start = 0
    while i < n:
        sm = _SEG_SPECIAL.search(q, i)
        if sm is None:
            break
        i = sm.start()
        ch = q[i]
        if ch == "'" or ch == '"' or ch == "`":
            if start < i:
                yield True, q[start:i]
            quote = ch
            j = i + 1
            while j < n:
                # backslash escapes are active inside Spark string
                # literals (' and ") but NOT backtick identifiers —
                # same lexical rules as validate.sanitize(); without
                # this, `'don\'t'` ends early and rewrite passes would
                # edit inside the literal
                if quote != "`" and q[j] == "\\":
                    j += 2
                    continue
                if q[j] == quote:
                    # doubled-quote escapes: '' in literals, "" in quoted
                    # identifiers AND `` in backtick identifiers (Spark
                    # executes the output — same rules as sanitize())
                    if j + 1 < n and q[j + 1] == quote:
                        j += 2
                        continue
                    break
                j += 1
            j = min(j + 1, n)
            yield False, q[i:j]
            i = start = j
        elif ch == "-" and i + 1 < n and q[i + 1] == "-":
            if start < i:
                yield True, q[start:i]
            j = q.find("\n", i)
            j = n if j == -1 else j
            yield False, q[i:j]
            i = start = j
        elif ch == "/" and i + 1 < n and q[i + 1] == "*":
            if start < i:
                yield True, q[start:i]
            j = q.find("*/", i + 2)
            j = n if j == -1 else j + 2
            yield False, q[i:j]
            i = start = j
        else:
            i += 1
    if start < n:
        yield True, q[start:n]


#: comma-join UNNEST (`FROM t, UNNEST(t.arr) AS u(x)`) — Trino sugar
#: for CROSS JOIN UNNEST.  Only the exact table-function shape matches
#: (balanced call followed by the alias tail `_UNNEST_TAIL` requires),
#: so a comma inside a SELECT list or an argument list can never
#: rewrite; a tail-less comma UNNEST stays as-is and fails Spark's
#: parser loudly, same as the tail-less CROSS JOIN form.
_COMMA_UNNEST = re.compile(r",\s*(?=UNNEST\s*\()", re.IGNORECASE)


def _rewrite_comma_unnest(q: str) -> str:
    start = 0
    while True:
        mask = _code_mask(q)
        m = next(
            (c for c in _COMMA_UNNEST.finditer(q, start) if mask[c.start()]),
            None,
        )
        if m is None:
            return q
        open_paren = q.index("(", m.end())
        depth, i = 1, open_paren + 1
        while i < len(q) and depth:
            if mask[i]:
                if q[i] == "(":
                    depth += 1
                elif q[i] == ")":
                    depth -= 1
            i += 1
        if depth or _UNNEST_TAIL.match(q, i) is None:
            start = m.end()
            continue
        q = q[: m.start()] + " CROSS JOIN " + q[m.end() :]
        start = m.start() + len(" CROSS JOIN ")


_UNNEST_HEAD = re.compile(r"\bCROSS\s+JOIN\s+UNNEST\s*\(", re.IGNORECASE)
_UNNEST_TAIL = re.compile(
    r"\s*(?P<ord>WITH\s+ORDINALITY\s+)?(?:AS\s+)?(?P<alias>\w+)\s*"
    r"\(\s*(?P<c1>\w+)\s*(?:,\s*(?P<c2>\w+)\s*)?\)",
    re.IGNORECASE,
)


def _rewrite_unnest(q: str, code_at: List[bool]) -> str:
    """``CROSS JOIN UNNEST(expr) AS t(c)`` → ``LATERAL VIEW explode(expr)
    t AS c``; ``… WITH ORDINALITY AS t(c, ord)`` → ``JOIN LATERAL
    (SELECT col AS c, pos + 1 AS ord FROM posexplode(expr)) t`` (Trino
    ordinality is 1-based; posexplode's pos is 0-based, hence the +1).
    Balanced-paren scan over code positions only (the expr itself may
    contain string literals, e.g. split(text, ' ')).
    """
    while True:
        m = None
        for cand in _UNNEST_HEAD.finditer(q):
            if code_at[cand.start()]:
                m = cand
                break
        if m is None:
            return q
        depth, i = 1, m.end()
        while i < len(q) and depth:
            if code_at[i]:
                if q[i] == "(":
                    depth += 1
                elif q[i] == ")":
                    depth -= 1
            i += 1
        if depth:
            return q  # unbalanced — leave untouched
        expr = q[m.end() : i - 1]
        tail = _UNNEST_TAIL.match(q, i)
        if not tail:
            return q
        alias, c1, c2 = tail.group("alias"), tail.group("c1"), tail.group("c2")
        if tail.group("ord"):
            if not c2:
                raise TrinoCompatError(
                    "UNNEST ... WITH ORDINALITY needs two column aliases: "
                    "AS t(value_col, ordinality_col)"
                )
            replacement = (
                f"JOIN LATERAL (SELECT col AS {c1}, pos + 1 AS {c2} "
                f"FROM posexplode({expr})) {alias}"
            )
        elif c2:
            return q  # multi-array UNNEST — out of scope, fail analysis loudly
        else:
            replacement = f"LATERAL VIEW explode({expr}) {alias} AS {c1}"
        q = q[: m.start()] + replacement + q[tail.end() :]
        # rebuild the code mask for the rewritten region (expr keeps its
        # own literal spans; the scaffolding we injected is code)
        code_at = _code_mask(q)


#: standalone ``FROM UNNEST(...) AS t(c, ...)`` — UNNEST as the sole
#: FROM source (literal-table idiom all over Trino docs/tests), as
#: opposed to the CROSS JOIN form above.  Shapes by (#exprs, #cols):
#: (1, 1) array explode; (1, 2) map entries; (n, n) arrays zipped with
#: NULL padding to the longest (Trino's multi-array semantics, which
#: arrays_zip can't spell without field-name gymnastics).  WITH
#: ORDINALITY appends the 1-based position.
_UNNEST_FROM = re.compile(r"\bFROM\s+UNNEST\s*\(", re.IGNORECASE)
_UNNEST_FROM_TAIL = re.compile(
    r"\s*(?P<ord>WITH\s+ORDINALITY\s+)?AS\s+"
    r"(?P<alias>[A-Za-z_][A-Za-z0-9_]*)\s*\(\s*"
    r"(?P<cols>[A-Za-z_][A-Za-z0-9_]*(?:\s*,\s*[A-Za-z_][A-Za-z0-9_]*)*)"
    r"\s*\)",
    re.IGNORECASE,
)


def _rewrite_unnest_from(q: str) -> str:
    start = 0
    while True:
        found = _find_call(q, _UNNEST_FROM, start)
        if found is None:
            return q
        m, bs, be = found
        tail = _UNNEST_FROM_TAIL.match(q, be + 1)
        if tail is None:
            # no column aliases — Trino requires them for UNNEST; let
            # Spark's parser produce the loud error
            start = be + 1
            continue
        exprs = _split_top_args(q[bs:be])
        cols = [c.strip() for c in tail.group("cols").split(",")]
        has_ord = bool(tail.group("ord"))
        data_cols = cols[:-1] if has_ord else cols
        if len(exprs) == 1 and len(data_cols) == 1:
            gen = "posexplode" if has_ord else "explode"
            sel = f"col AS {data_cols[0]}"
            if has_ord:
                sel += f", pos + 1 AS {cols[-1]}"
            inner = f"SELECT {sel} FROM {gen}({exprs[0]})"
        elif len(exprs) == 1 and len(data_cols) == 2:
            gen = "posexplode" if has_ord else "explode"
            sel = f"key AS {data_cols[0]}, value AS {data_cols[1]}"
            if has_ord:
                sel += f", pos + 1 AS {cols[-1]}"
            inner = f"SELECT {sel} FROM {gen}({exprs[0]})"
        elif len(exprs) == len(data_cols):
            g = "greatest(" + ", ".join(f"size({e})" for e in exprs) + ")"
            sels = [
                f"try_element_at({e}, __i) AS {c}"
                for e, c in zip(exprs, data_cols)
            ]
            if has_ord:
                sels.append(f"__i AS {cols[-1]}")
            # sequence(1, 0) would count DOWN; generate to at least 1
            # and filter — an all-empty/NULL input yields zero rows
            inner = (
                f"SELECT {', '.join(sels)} FROM (SELECT "
                f"explode(sequence(1, greatest({g}, 1))) AS __i) "
                f"WHERE __i <= {g}"
            )
        else:
            raise TrinoCompatError(
                f"UNNEST: {len(exprs)} expression(s) vs "
                f"{len(data_cols)} column alias(es) — counts must match "
                "(or one map expression with two aliases)"
            )
        repl = f"FROM ({inner}) {tail.group('alias')}"
        q = q[: m.start()] + repl + q[tail.end() :]
        start = m.start() + len(repl)


def _find_call(q: str, head: "re.Pattern", start: int = 0):
    """First code-position match of ``head`` (a ``name\\s*\\(`` pattern)
    at/after ``start``, plus the span of its balanced argument list.
    Returns ``(match, body_start, body_end)`` with ``q[body_start:body_end]``
    the text between the parens, or ``None``."""
    code_at = _code_mask(q)
    m = None
    for cand in head.finditer(q, start):
        if code_at[cand.start()]:
            m = cand
            break
    if m is None:
        return None
    depth, i = 1, m.end()
    while i < len(q) and depth:
        if code_at[i]:
            if q[i] == "(":
                depth += 1
            elif q[i] == ")":
                depth -= 1
        i += 1
    if depth:
        return None  # unbalanced — leave untouched, Spark will reject
    return m, m.end(), i - 1


def _split_top_args(body: str) -> List[str]:
    """Split an argument list on top-level commas (paren/literal-aware)."""
    mask = _code_mask(body)
    parts, depth, last = [], 0, 0
    for i, ch in enumerate(body):
        if not mask[i]:
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(body[last:i])
            last = i + 1
    parts.append(body[last:])
    return [p.strip() for p in parts]


_SPLIT_HEAD = re.compile(r"\bsplit\s*\(", re.IGNORECASE)


def _rewrite_split(q: str) -> str:
    """Trino ``split(s, delim[, limit])`` treats the delimiter as a
    LITERAL; Spark's is a regex — ``split(s, '.')`` silently returns
    empty strings.  Literal delimiters get regex-escaped; non-literal
    delimiters raise (can't escape at translate time)."""
    import re as _re

    pos = 0
    while True:
        found = _find_call(q, _SPLIT_HEAD, pos)
        if found is None:
            return q
        m, b0, b1 = found
        args = _split_top_args(q[b0:b1])
        if len(args) not in (2, 3):
            raise TrinoCompatError("split() takes (string, delimiter[, limit])")
        delim = args[1]
        if not (len(delim) >= 2 and delim[0] == "'" and delim[-1] == "'"):
            raise TrinoCompatError(
                "split() delimiter must be a string literal (Trino treats "
                "it literally; Spark as a regex — escape it yourself for "
                "non-literal delimiters)"
            )
        # unescape SQL '' doubling, regex-escape, re-escape for the SQL
        # literal (backslashes double inside Spark string literals)
        content = delim[1:-1].replace("''", "'")
        escaped = _re.escape(content).replace("\\", "\\\\").replace("'", "''")
        args[1] = f"'{escaped}'"
        q = q[: m.start()] + f"split({', '.join(args)})" + q[b1 + 1 :]
        # resume INSIDE the rewritten call (past the open paren): the
        # call itself is never re-matched, nested calls in args still are
        pos = m.start() + len("split(")


_SPLIT_TO_MAP_HEAD = re.compile(r"\bsplit_to_map\s*\(", re.IGNORECASE)


#: Trino EXTRACT fields whose Spark twin has a DIFFERENT name or —
#: worse — the same name with different semantics: Spark's DOW is
#: Sunday=1 where Trino's is ISO Monday=1 (a silent VALUE divergence,
#: caught by the round-8 gap-hunt); YOW/year_of_week simply doesn't
#: parse in Spark (YEAROFWEEK does).
_EXTRACT_FIELD_MAP = {
    "dow": "DAYOFWEEK_ISO",
    "day_of_week": "DAYOFWEEK_ISO",
    "yow": "YEAROFWEEK",
    "year_of_week": "YEAROFWEEK",
}
_EXTRACT_FIELD = re.compile(
    r"(\bextract\s*\(\s*)(dow|day_of_week|yow|year_of_week)(\s+FROM\b)",
    re.IGNORECASE,
)


def _rewrite_extract_fields(q: str) -> str:
    mask = _code_mask(q)
    out, last = [], 0
    for m in _EXTRACT_FIELD.finditer(q):
        if not mask[m.start()]:
            continue
        out.append(q[last : m.start()])
        out.append(m.group(1))
        out.append(_EXTRACT_FIELD_MAP[m.group(2).lower()])
        out.append(m.group(3))
        last = m.end()
    out.append(q[last:])
    return "".join(out)


_REGEXP_REPLACE_HEAD = re.compile(r"\bregexp_replace\s*\(", re.IGNORECASE)
_LAMBDA_ARG = re.compile(r"(?s)^\(?\s*([A-Za-z_]\w*)\s*\)?\s*->\s*(.+)$")


def _unescape_spark_literal(body: str) -> str:
    """Literal body (between quotes) → the actual string Spark's lexer
    produces: doubled quotes and backslash escapes resolved (unknown
    escapes drop the backslash, Spark/Hive behavior)."""
    out, i = [], 0
    esc = {"n": "\n", "t": "\t", "r": "\r", "\\": "\\", "'": "'", '"': '"', "0": "\0"}
    while i < len(body):
        c = body[i]
        if c == "'" and body[i + 1 : i + 2] == "'":
            out.append("'")
            i += 2
        elif c == "\\" and i + 1 < len(body):
            out.append(esc.get(body[i + 1], body[i + 1]))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _count_capture_groups(pat: str) -> int:
    """Capturing groups in a (Java) regex — plain ``(...)`` and
    non-capturing ``(?:...)`` only; anything else ``(?...`` (named
    groups, lookaround, flags) fails loudly: the lambda rewrite
    extracts groups by NUMBER and a miscount silently shifts every
    x[i].  Character classes are skipped (a ``(`` inside ``[...]`` is
    literal)."""
    n, i, in_class = 0, 0, False
    while i < len(pat):
        c = pat[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
        elif c == "[":
            in_class = True
        elif c == "(":
            if pat[i + 1 : i + 2] == "?":
                if pat[i + 2 : i + 3] != ":":
                    raise TrinoCompatError(
                        "lambda regexp_replace supports plain (...) and "
                        "non-capturing (?:...) groups only — named groups, "
                        "lookaround and inline flags are not supported"
                    )
            else:
                n += 1
        i += 1
    return n


def _rewrite_lambda_regexp_replace(q: str) -> str:
    """Trino ``regexp_replace(string, pattern, x -> body)`` — replace
    every match using a lambda over the CAPTURING GROUPS (1-indexed
    array; Trino has no group 0 for the whole match).  Spark has no
    per-match callback, but the semantics decompose into existing
    JVM-side array machinery (no UDF):

      parts  = split(s, pat, -1)                   -- K+1 gap segments
      g_i    = regexp_extract_all(s, pat, i)       -- i-th group, per match
      groups = transform(sequence(1, K), j -> array(g_1[j], .., g_n[j]))
      repl   = transform(groups, x -> body)        -- lambda verbatim
      out    = parts[1] . repl[1] . parts[2] . ... . parts[K+1]

    The body's ``x[i]`` subscripts were already respelled to the
    1-based ``element_at(x, i)`` by _rewrite_subscripts (which runs
    first), so the group array is UNPADDED and the lambda body runs
    otherwise verbatim; whole-array uses (``array_join(x, ..)``) see
    exactly Trino's 1..n group array.  The pattern must be a string
    literal (the
    rewrite re-uses it in split/extract calls and must count its
    groups).  Loud runtime guard: a zero-width match would misalign
    split against extract_all, so it raise_error()s instead of
    silently mangling.  Documented divergences: a non-participating
    optional group yields '' (Spark extract_all) where Trino yields
    NULL; a NULL lambda result nulls the whole output string.

    Closes the SURVEY batch-12 documented gap (reference passes the
    lambda form through to Trino verbatim, client.go)."""
    pos = 0
    while True:
        hit = _find_call(q, _REGEXP_REPLACE_HEAD, pos)
        if hit is None:
            return q
        m, bs, be = hit
        args = _split_top_args(q[bs:be])
        if len(args) != 3 or "->" not in args[2]:
            pos = be
            continue
        lam = _LAMBDA_ARG.match(args[2].strip())
        if lam is None:
            raise TrinoCompatError(
                "unsupported lambda shape in regexp_replace — expected "
                "'x -> expression'"
            )
        var, body = lam.group(1), lam.group(2).strip()
        s_expr = args[0].strip()
        pat_lit = args[1].strip()
        if not (
            len(pat_lit) >= 2 and pat_lit[0] == "'" and pat_lit[-1] == "'"
        ):
            raise TrinoCompatError(
                "lambda regexp_replace needs a string-LITERAL pattern "
                "(the rewrite must count its capturing groups)"
            )
        n_groups = _count_capture_groups(_unescape_spark_literal(pat_lit[1:-1]))
        parts = f"split({s_expr}, {pat_lit}, -1)"
        m0 = f"regexp_extract_all({s_expr}, {pat_lit}, 0)"
        group_items = ", ".join(
            f"element_at(regexp_extract_all({s_expr}, {pat_lit}, {i}), __g)"
            for i in range(1, n_groups + 1)
        )
        if group_items:
            garr = (
                f"transform(sequence(1, size({m0})), "
                f"__g -> array({group_items}))"
            )
        else:
            # zero capture groups: Trino's x is an EMPTY array (any
            # element_at(x, i) errors there; ANSI element_at matches)
            garr = (
                f"transform(sequence(1, size({m0})), "
                f"__g -> CAST(array() AS ARRAY<STRING>))"
            )
        repl = f"transform({garr}, {var} -> ({body}))"
        out = (
            f"(CASE WHEN ({s_expr}) IS NULL THEN CAST(NULL AS STRING) "
            f"WHEN exists({m0}, __m -> __m = '') THEN "
            f"raise_error('regexp_replace lambda: pattern produced a "
            f"zero-width match — not supported by the rewrite') "
            f"WHEN size({m0}) = 0 THEN ({s_expr}) "
            f"ELSE concat(element_at({parts}, 1), "
            f"aggregate(sequence(1, size({m0})), '', "
            f"(__acc, __j) -> concat(__acc, element_at({repl}, __j), "
            f"element_at({parts}, __j + 1)))) END)"
        )
        q = q[: m.start()] + out + q[be + 1 :]
        pos = m.start() + len(out)


def _rewrite_split_to_map(q: str) -> str:
    """Trino ``split_to_map(s, entryDelim, kvDelim)`` treats both
    delimiters as LITERALS; Spark's same-arity ``str_to_map`` reads
    them as regexes (``'|'`` would match the empty string and explode
    every character).  Literal delimiters get regex-escaped, exactly
    like _rewrite_split; non-literal delimiters raise."""
    import re as _re

    pos = 0
    while True:
        found = _find_call(q, _SPLIT_TO_MAP_HEAD, pos)
        if found is None:
            return q
        m, b0, b1 = found
        args = _split_top_args(q[b0:b1])
        if len(args) != 3:
            raise TrinoCompatError(
                "split_to_map() takes (string, entryDelimiter, keyValueDelimiter)"
            )
        for k in (1, 2):
            delim = args[k]
            if not (len(delim) >= 2 and delim[0] == "'" and delim[-1] == "'"):
                raise TrinoCompatError(
                    "split_to_map() delimiters must be string literals "
                    "(Trino treats them literally; Spark str_to_map as "
                    "regexes)"
                )
            content = delim[1:-1].replace("''", "'")
            escaped = _re.escape(content).replace("\\", "\\\\").replace("'", "''")
            args[k] = f"'{escaped}'"
        q = q[: m.start()] + f"str_to_map({', '.join(args)})" + q[b1 + 1 :]
        pos = m.start() + len("str_to_map(")


_PARSE_DT_HEAD = re.compile(r"\bparse_datetime\s*\(", re.IGNORECASE)


def _joda_two_digit_year(pattern: str) -> bool:
    """True when the pattern carries a two-letter y/Y run outside
    quoted literals — Joda pivots those on parse (see below)."""
    i, n = 0, len(pattern)
    while i < n:
        ch = pattern[i]
        if ch == "'":
            i += 1
            while i < n:
                if pattern[i] == "'":
                    if i + 1 < n and pattern[i + 1] == "'":
                        i += 2
                        continue
                    i += 1
                    break
                i += 1
            continue
        if ch in "yY":
            j = i
            while j < n and pattern[j] == ch:
                j += 1
            if j - i == 2:
                return True
            i = j
            continue
        i += 1
    return False


def _rewrite_parse_datetime(q: str) -> str:
    """Trino ``parse_datetime(s, 'joda-pattern')`` → Spark
    ``to_timestamp(s, 'spark-pattern')`` via the same Joda token
    translation as format_datetime — in the PARSE direction (padded
    numeric runs become lenient single letters, _JODA_LENIENT_PAIRS).

    Two-digit years pivot like Joda: DateTimeFormat's 'yy' parses with
    ``appendTwoDigitYear(currentYear - 30)`` (Joda public source,
    DateTimeFormatterBuilder) — the parsed year lands in
    [currentYear-80, currentYear+19] — while Spark's 'yy' bases at
    2000.  The rewrite subtracts a century when the parsed year
    exceeds currentYear+19, matching Trino's wall-clock-dependent
    window (the same silent-shift class as date_parse's MySQL pivot,
    caught by the round-11 sweep)."""
    while True:
        found = _find_call(q, _PARSE_DT_HEAD)
        if found is None:
            return q
        m, b0, b1 = found
        args = _split_top_args(q[b0:b1])
        if len(args) != 2:
            raise TrinoCompatError("parse_datetime needs (string, 'pattern')")
        pat = args[1]
        if not (len(pat) >= 2 and pat[0] == "'" and pat[-1] == "'"):
            raise TrinoCompatError(
                "parse_datetime pattern must be a string literal for "
                "Joda→Spark token translation"
            )
        fmt = pat[1:-1]
        translated = _translate_joda(fmt, parse=True)
        ts = f"to_timestamp({args[0]}, '{translated}')"
        if _joda_two_digit_year(fmt):
            import datetime as _dt

            hi = _dt.date.today().year + 19  # Joda window top
            ts = (
                f"(CASE WHEN year({ts}) > {hi} "
                f"THEN {ts} - INTERVAL '100' YEAR ELSE {ts} END)"
            )
        q = q[: m.start()] + ts + q[b1 + 1 :]


_MAP_AGG_HEAD = re.compile(r"\bmap_agg\s*\(", re.IGNORECASE)


def _rewrite_map_agg(q: str) -> str:
    """Trino ``map_agg(k, v)`` aggregate → Spark
    ``map_from_entries(collect_list(struct(k, v)))`` (pure composition,
    still a single grouped aggregate plan-side)."""
    while True:
        found = _find_call(q, _MAP_AGG_HEAD)
        if found is None:
            return q
        m, b0, b1 = found
        args = _split_top_args(q[b0:b1])
        if len(args) != 2:
            raise TrinoCompatError("map_agg needs (key, value)")
        q = (
            q[: m.start()]
            + f"map_from_entries(collect_list(struct({args[0]}, {args[1]})))"
            + q[b1 + 1 :]
        )


#: try(expr) body shapes → Spark try_* functions.  ANSI mode is enabled
#: session-wide, so arithmetic/cast errors genuinely throw — try() must
#: map to a real error-suppressing form, and any body this table can't
#: express raises TrinoCompatError rather than silently keeping
#: throw-semantics.
_TRY_FNS = {
    "element_at": "try_element_at",
    # user element_at is already try_element_at by the time try()
    # unwraps (the round-9 nullsafe respell runs first) — identity
    "try_element_at": "try_element_at",
    "to_timestamp": "try_to_timestamp",
    "to_number": "try_to_number",
    "to_binary": "try_to_binary",
    "from_iso8601_timestamp": "try_to_timestamp",
}
_TRY_HEAD = re.compile(r"\btry\s*\(", re.IGNORECASE)
_TRY_CAST = re.compile(r"^\s*CAST\s*\((.*)\)\s*$", re.IGNORECASE | re.DOTALL)
_TRY_CALL = re.compile(r"^\s*(\w+)\s*\((.*)\)\s*$", re.DOTALL)
_TRY_BINOP_FN = {"+": "try_add", "-": "try_subtract", "*": "try_multiply",
                 "/": "try_divide", "%": "try_mod"}
_TRY_BINOP_PREC = {"+": 1, "-": 1, "*": 2, "/": 2, "%": 2}


def _is_exponent_sign(body: str, i: int) -> bool:
    """True iff the +/- at ``i`` is the exponent sign of a numeric
    literal like ``1e-3`` (the preceding token is digits[.digits] + e/E
    and a digit follows) — splitting there would corrupt the literal."""
    if i + 1 >= len(body) or not body[i + 1].isdigit():
        return False
    prev = body[:i].rstrip()
    if not prev or prev[-1] not in "eE":
        return False
    j = len(prev) - 2
    saw_digit = False
    while j >= 0 and (prev[j].isdigit() or prev[j] == "."):
        saw_digit = saw_digit or prev[j].isdigit()
        j -= 1
    # the char before the mantissa must not extend an identifier
    # (column ``x2e`` minus 3 is subtraction, not an exponent)
    return saw_digit and (j < 0 or not (prev[j].isalnum() or prev[j] == "_"))


def _split_top_binop_any(body: str):
    """Split ``body`` at its top-level ROOT operator: the
    lowest-precedence binary op, rightmost among equals (left
    associativity) — `1 + 4 / 2` roots at '+', never at '/'.
    Returns (left, op, right) or None.  '-'/'+' at expression start,
    after another operator, or as a literal's exponent sign are not
    split points."""
    mask = _code_mask(body)
    depth = 0
    best = None  # (precedence, index, op); lowest prec wins, then rightmost
    for i, ch in enumerate(body):
        if not mask[i]:
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch in _TRY_BINOP_FN and depth == 0:
            prev = body[:i].rstrip()
            if not prev or prev[-1] in "+-*/%(,<>=":
                continue  # unary sign or operator continuation
            if ch in "+-" and _is_exponent_sign(body, i):
                continue
            p = _TRY_BINOP_PREC[ch]
            if best is None or p < best[0] or (p == best[0] and i > best[1]):
                best = (p, i, ch)
    if best is None:
        return None
    _, i, ch = best
    return body[:i], ch, body[i + 1 :]


def _paren_balanced(expr: str) -> bool:
    """True iff the code-level parens in ``expr`` balance without going
    negative — guards the greedy ``CAST((.*))`` / ``fn((.*))`` regexes
    from swallowing ``CAST(a AS INT) + CAST(b AS INT)`` as one call
    (the capture there is unbalanced: ``a AS INT) + CAST(b AS INT``)."""
    mask = _code_mask(expr)
    depth = 0
    for i, ch in enumerate(expr):
        if mask[i]:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth < 0:
                    return False
    return depth == 0


def _try_replacement(body: str) -> str:
    """Spark equivalent of Trino ``try(body)``."""
    body = _rewrite_try(body)  # nested try()
    m = _TRY_CAST.match(body)
    if m and _paren_balanced(m.group(1)):
        return f"try_cast({m.group(1)})"
    m = _TRY_CALL.match(body)
    if m and m.group(1).lower() in _TRY_FNS and _paren_balanced(m.group(2)):
        return f"{_TRY_FNS[m.group(1).lower()]}({m.group(2)})"
    parts = _split_top_binop_any(body)
    if parts:
        left, op, right = parts
        # each operand that is itself a try-able shape gets its own
        # NULL-on-error wrapper, so try(CAST(a…)+CAST(b…)) guards
        # the casts too (NULL operand → NULL result, matching
        # Trino's whole-expression try semantics); plain operands
        # pass through
        def _guard(p: str) -> str:
            try:
                return _try_replacement(p)
            except TrinoCompatError:
                return p.strip()

        return f"{_TRY_BINOP_FN[op]}({_guard(left)}, {_guard(right)})"
    raise TrinoCompatError(
        f"try({body.strip()[:60]}...): no Spark try_* equivalent for this "
        "expression shape (supported: CAST, element_at, to_timestamp, "
        "to_number, to_binary, and binary + - * / %)"
    )


def _rewrite_try(q: str) -> str:
    """Rewrite every Trino ``try(expr)`` to its Spark ``try_*`` form."""
    while True:
        code_at = _code_mask(q)
        m = None
        for cand in _TRY_HEAD.finditer(q):
            if code_at[cand.start()]:
                m = cand
                break
        if m is None:
            return q
        depth, i = 1, m.end()
        while i < len(q) and depth:
            if code_at[i]:
                if q[i] == "(":
                    depth += 1
                elif q[i] == ")":
                    depth -= 1
            i += 1
        if depth:
            return q  # unbalanced — leave untouched, Spark will reject
        body = q[m.end() : i - 1]
        # the literal-division pass (which runs earlier) respelled
        # `7/2` as `(7 div 2)`; inside try() that becomes the
        # NULL-on-zero TRUNCATING form (CAST of try_divide matches
        # Trino: toward-zero truncation, integer result type)
        body = re.sub(
            r"\((\d+) div (\d+)\)",
            r"CAST(try_divide(\1, \2) AS BIGINT)",
            body,
        )
        q = q[: m.start()] + _try_replacement(body) + q[i:]


#: Joda-Time → Spark DateTimeFormatter pattern letters that DIFFER.
#: Identical letters (y M d H m s S E a h K k w D G Q) pass through; the
#: dangerous ones are mapped; Joda letters with no Spark equivalent
#: (C century, e numeric day-of-week) raise.
_JODA_RUN = {
    "Y": "y",    # Joda Y = year-of-era; Spark Y = week-based-year (!)
    "Z": "xx",   # +0800
    "ZZ": "xxx",  # +08:00
    "ZZZ": "VV",  # zone id
}
_JODA_BAD = set("Ce")


#: Joda numeric tokens whose TWO-letter (padded) runs must become the
#: single (lenient) letter in the PARSE direction: Joda's number parser
#: accepts 1-2 digits regardless of padding, Java/Spark's padded
#: letters require exactly two on parse — '2026-1-2' died on a
#: Trino-valid parse_datetime('…', 'yyyy-MM-dd') input (same class as
#: the MySQL-token catch, round 11)
_JODA_LENIENT_PAIRS = frozenset("MdHhKkmsD")


def _translate_joda(pattern: str, parse: bool = False) -> str:
    """Translate a Joda-Time datetime pattern to Spark's dialect."""
    out: List[str] = []
    i, n = 0, len(pattern)
    while i < n:
        ch = pattern[i]
        if ch == "'":  # quoted literal text (Joda and Spark agree on this)
            j = i + 1
            while j < n:
                if pattern[j] == "'":
                    if j + 1 < n and pattern[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            out.append(pattern[i : j + 1])
            i = j + 1
            continue
        if ch.isalpha():
            j = i
            while j < n and pattern[j] == ch:
                j += 1
            run = pattern[i:j]
            if ch in _JODA_BAD:
                raise TrinoCompatError(
                    f"format_datetime pattern letter {ch!r} (Joda) has no "
                    "Spark equivalent"
                )
            if ch == "x":
                # Joda week-year: Spark's formatter rejects week-based
                # year patterns outright — fail with a real message
                # instead of an opaque runtime formatter error
                raise TrinoCompatError(
                    "Joda week-year pattern 'x' has no Spark formatter "
                    "equivalent (use year_of_week()/yow() instead)"
                )
            if ch == "Y":
                out.append(_JODA_RUN[ch] * len(run))
            elif ch == "Z":
                out.append(_JODA_RUN[run if len(run) <= 3 else "ZZZ"])
            elif parse and len(run) == 2 and ch in _JODA_LENIENT_PAIRS:
                out.append(ch)
            else:
                out.append(run)
            i = j
            continue
        out.append(ch)
        i += 1
    return "".join(out)


_FMT_HEAD = re.compile(r"\bformat_datetime\s*\(", re.IGNORECASE)


def _rewrite_format_datetime(q: str) -> str:
    """``format_datetime(x, 'joda-pattern')`` → ``date_format(x,
    'spark-pattern')``.  The pattern (2nd argument) must be a string
    literal for token translation; non-literal patterns raise rather
    than run with silently different tokens."""
    while True:
        code_at = _code_mask(q)
        m = None
        for cand in _FMT_HEAD.finditer(q):
            if code_at[cand.start()]:
                m = cand
                break
        if m is None:
            return q
        depth, i = 1, m.end()
        comma = -1
        while i < len(q) and depth:
            if code_at[i]:
                if q[i] == "(":
                    depth += 1
                elif q[i] == ")":
                    depth -= 1
                elif q[i] == "," and depth == 1:
                    comma = i
            i += 1
        if depth:
            return q
        if comma < 0:
            raise TrinoCompatError("format_datetime needs (value, 'pattern')")
        pat = q[comma + 1 : i - 1].strip()
        if not (len(pat) >= 2 and pat[0] == "'" and pat[-1] == "'"):
            raise TrinoCompatError(
                "format_datetime pattern must be a string literal for "
                "Joda→Spark token translation"
            )
        translated = _translate_joda(pat[1:-1])
        q = (
            q[: m.start()]
            + f"date_format({q[m.end():comma]}, '{translated}')"
            + q[i:]
        )


#: hard cap on rewritten-query text.  The guard-style rewrites
#: duplicate argument expressions into 2–7 branches, so NESTED
#: guard-rewritten calls grow the text ~an order of magnitude per
#: level (measured round 11: substr∘split_part depth 1/2/3 →
#: 0.9 KB / 12 KB / 142 KB, with translate time superlinear in text
#: because every pass iteration rebuilds the code mask) — depth 4
#: would be megabytes and minutes.  The façade's timeout only covers
#: EXECUTION, so unbounded growth here is a pre-execution hang; the
#: cap converts it into an immediate, named error.  1 MB admits every
#: realistic query including depth-3 pathological nesting.
MAX_TRANSLATED_BYTES = 1_000_000
#: translate() wall-clock budget.  A size cap alone cannot trip fast:
#: the time is spent in pass rescans BELOW the cap (55 s at 142 KB),
#: so the breaker also watches elapsed time from translate() entry.
#: Every realistic query translates in milliseconds; 15 s is two
#: orders of magnitude of headroom.
TRANSLATE_TIME_BUDGET_S = 15.0
#: per-thread deadline stack: concurrent translate() calls (the MCP
#: server handles requests on worker threads) must not pop each
#: other's deadlines or read a sibling's — a shared list let a slow
#: translation on one thread trip the budget on a fast one, and vice
#: versa leave the hung one unguarded (ADVICE r11).
_TRANSLATE_DEADLINE_TLS = threading.local()


def _deadline_stack() -> List[float]:
    stack = getattr(_TRANSLATE_DEADLINE_TLS, "stack", None)
    if stack is None:
        stack = _TRANSLATE_DEADLINE_TLS.stack = []
    return stack


def _check_translated_size(q: str) -> None:
    if len(q) > MAX_TRANSLATED_BYTES:
        raise TrinoCompatError(
            f"translated query text exceeds {MAX_TRANSLATED_BYTES} bytes "
            f"({len(q)}): deeply nested calls to guard-rewritten "
            "functions (substr/split_part/round/CAST/...) multiply the "
            "text per nesting level — flatten the expression or compute "
            "intermediate values in a subquery"
        )
    import time as _t

    stack = _deadline_stack()
    if stack and _t.monotonic() > stack[-1]:
        raise TrinoCompatError(
            f"query translation exceeded {TRANSLATE_TIME_BUDGET_S:.0f}s: "
            "deeply nested guard-rewritten calls multiply the text per "
            "nesting level — flatten the expression or compute "
            "intermediate values in a subquery"
        )


#: memo for _code_mask keyed by the exact text: passes re-derive the
#: mask of an UNCHANGED query many times (per-candidate checks, helper
#: sub-scans), and Python caches each str's hash, so a repeat lookup on
#: the same object is O(1).  Callers treat the mask as read-only (no
#: mutation site exists — grep `mask[... ] =`); bounded so a long
#: session can't accumulate big intermediates.
_MASK_CACHE: Dict[str, List[bool]] = {}


def _code_mask(q: str) -> List[bool]:
    _check_translated_size(q)
    mask = _MASK_CACHE.get(q)
    if mask is not None:
        return mask
    mask = [False] * len(q)
    pos = 0
    for is_code, seg in _segments(q):
        if is_code:
            mask[pos : pos + len(seg)] = [True] * len(seg)
        pos += len(seg)
    if len(_MASK_CACHE) >= 128:
        _MASK_CACHE.clear()
    _MASK_CACHE[q] = mask
    return mask


_ARRAY_LIT = re.compile(r"\bARRAY\s*\[", re.IGNORECASE)


#: bare identifiers a subscript must never attach to (keywords that can
#: lexically precede '[' without being an expression; ARRAY covers any
#: constructor the array-literal pass leaves behind)
_NON_SUBSCRIPT_BASES = {
    "AND", "OR", "NOT", "IN", "IS", "LIKE", "BETWEEN", "CASE", "WHEN",
    "THEN", "ELSE", "END", "SELECT", "FROM", "WHERE", "GROUP", "ORDER",
    "BY", "HAVING", "ON", "AS", "JOIN", "OVER", "PARTITION", "ROWS",
    "RANGE", "GROUPS", "ARRAY", "MAP", "VALUES", "UNION", "ALL",
    "DISTINCT", "CAST", "INTERVAL", "RETURN", "EXCLUDE", "AFTER",
}


def _subscript_base_start(q: str, mask: List[bool], pos: int):
    """``pos`` is the index of a code-position ``[``; return the start
    index of the base expression it subscripts (an identifier /
    dotted-name / call / parenthesized group / subscript chain), or
    None when the ``[`` does not follow a subscriptable base."""
    j = pos - 1
    while j >= 0 and q[j].isspace():
        j -= 1
    if j < 0 or not mask[j]:
        return None
    end = j
    while j >= 0:
        c = q[j]
        if c in ")]" and mask[j]:
            close, open_ = c, "(" if c == ")" else "["
            depth = 0
            while j >= 0:
                if mask[j]:
                    if q[j] == close:
                        depth += 1
                    elif q[j] == open_:
                        depth -= 1
                        if depth == 0:
                            break
                j -= 1
            if j < 0:
                return None
            j -= 1
            continue
        if (c.isalnum() or c in "_$") and mask[j]:
            k = j
            while k >= 0 and mask[k] and (q[k].isalnum() or q[k] in "_$"):
                k -= 1
            name = q[k + 1 : j + 1]
            if (
                k + 1 + len(name) - 1 == end
                and name.upper() in _NON_SUBSCRIPT_BASES
            ):
                return None  # keyword, not an expression base
            j = k
            if j >= 0 and q[j] == "." and mask[j]:
                j -= 1
                continue
            return j + 1
        break
    return j + 1 if j + 1 <= end else None


def _rewrite_subscripts(q: str, column_types: Optional[dict] = None) -> str:
    """Bare subscripts → 1-based/key-exact ``element_at``.

    Trino's ``expr[e]`` is 1-based on arrays and a throwing lookup on
    maps; Spark parses the same spelling 0-based on arrays and
    NULL-returning on maps — the long-documented SILENT divergence on
    every non-literal base (ARRAY[..][k] literals were already
    rewritten).  ``element_at`` matches Trino's 1-based array
    indexing (index 0 errors under ANSI, as in Trino); for maps it
    returns NULL on a missing key in Spark 4 where Trino's SUBSCRIPT
    raises "Key not present in map" — closed for schema-known map
    columns below (round 12; the element_at() FUNCTION spelling keeps
    Trino's own NULL-returning contract).  A lexical pass cannot
    otherwise tell arrays from maps, and does not need to — the base
    rewrite is type-agnostic.

    Runs AFTER the ARRAY[..] literal pass (so no constructor brackets
    remain) and BEFORE every pass that emits Spark-semantics
    subscripts of its own (map_union's ``[0]``, the lambda
    regexp_replace expansion) — generated text never re-enters this
    pass.  Chains (``a[1][2]``, ``f(x)[i].g[j]``) resolve naturally:
    each rewrite turns the inner subscript into a call, which the next
    iteration treats as the base.

    Documented residue (arrays only): a negative index reads from the
    end in Spark where Trino errors — maps with negative integer keys
    are legal, so a LEXICAL reject here would break valid map access.
    Round 11 closes the knowable case: when the base is a plain
    identifier chain whose catalog type (``column_types``, the x47
    map) is an array, the index gets a runtime negativity guard that
    raises like Trino's "Array subscript is negative" instead of
    silently reading from the end.  Non-column bases (function
    results, subquery aliases) and map columns keep the documented
    residue.
    """
    types = {
        str(k).lower(): str(v).lower() for k, v in (column_types or {}).items()
    }
    while True:
        mask = _code_mask(q)
        hit = None
        for i, ch in enumerate(q):
            if ch != "[" or not mask[i]:
                continue
            bs = _subscript_base_start(q, mask, i)
            if bs is None:
                continue
            depth, j = 0, i
            while j < len(q):
                if mask[j]:
                    if q[j] == "[":
                        depth += 1
                    elif q[j] == "]":
                        depth -= 1
                        if depth == 0:
                            break
                j += 1
            if j >= len(q):
                raise TrinoCompatError(f"unbalanced subscript bracket at {i}")
            hit = (bs, i, j)
            break
        if hit is None:
            return q
        bs, lb, rb = hit
        base = q[bs:lb].strip()
        inner = q[lb + 1 : rb].strip()
        if not inner:
            raise TrinoCompatError(f"empty subscript on {base!r}")
        base_t = (
            types.get(base.rsplit(".", 1)[-1].lower(), "")
            if _IDENT_CHAIN.fullmatch(base)
            else ""
        )
        idx = inner
        if (
            base_t.startswith("array")
            and not re.fullmatch(r"\d+", inner)
            and not _has_nondeterministic_call(inner)
        ):
            # the outer CAST keeps element_at's index INT: a BIGINT
            # index expression under the IF otherwise fails analysis
            # (array indices are int-bounded in both engines anyway)
            idx = (
                f"CAST(IF(({inner}) < 0, raise_error("
                f"'Array subscript is negative: ' || CAST(({inner}) AS STRING)"
                f"), {inner}) AS INT)"
            )
        elif base_t.startswith("map") and not _has_nondeterministic_call(inner):
            # round 12: Trino's map SUBSCRIPT raises on a missing key
            # ("Key not present in map: k") where Spark 4's element_at
            # returns NULL — silent on every lookup.  Knowable map
            # COLUMNS get the throwing lookup; the element_at()
            # FUNCTION spelling keeps Trino's own NULL-returning
            # contract, a NULL MAP yields NULL (the IS NULL
            # short-circuits past map_contains_key's NULL, which the
            # IF would otherwise read as "raise"), and NULL keys stay
            # NULL (residue: Trino rejects them).  The key is
            # duplicated, so nondeterministic keys keep the plain
            # lookup.
            repl = (
                f"IF(({base}) IS NULL OR ({inner}) IS NULL"
                f" OR map_contains_key({base}, {inner}),"
                f" element_at({base}, {inner}),"
                f" raise_error('Key not present in map: '"
                f" || CAST(({inner}) AS STRING)))"
            )
            q = q[:bs] + repl + q[rb + 1 :]
            continue
        q = q[:bs] + f"element_at({base}, {idx})" + q[rb + 1 :]


def _rewrite_array_literal(q: str) -> str:
    """Trino ``ARRAY[...]`` constructor → Spark ``array(...)``.

    Only the bracket pair belonging to the ARRAY keyword is rewritten
    (balanced scan over code positions — nested ``ARRAY[ARRAY[...]]``
    handled by re-running until no match).  Bare subscripts ``arr[i]``
    are untouched: Spark parses them, and Trino's 1-based subscript is
    a semantic difference a rewrite could only hide, not fix.
    """
    while True:
        code_at = _code_mask(q)
        m = next((c for c in _ARRAY_LIT.finditer(q) if code_at[c.start()]), None)
        if m is None:
            return q
        depth, i = 1, m.end()
        while i < len(q) and depth:
            if code_at[i]:
                if q[i] == "[":
                    depth += 1
                elif q[i] == "]":
                    depth -= 1
            i += 1
        if depth:
            return q  # unbalanced — leave untouched
        head, inner, tail = q[: m.start()], q[m.end() : i - 1], q[i:]
        # a subscript directly on the literal: Trino ARRAY[..][k] is
        # 1-based, Spark's [] is 0-based — element_at IS 1-based, so
        # rewrite the pair instead of leaving a silent off-by-one
        sub = re.match(r"\s*\[", tail)
        if sub:
            sd, j2 = 1, sub.end()
            t_code = _code_mask(tail)
            while j2 < len(tail) and sd:
                if t_code[j2]:
                    if tail[j2] == "[":
                        sd += 1
                    elif tail[j2] == "]":
                        sd -= 1
                j2 += 1
            if sd == 0:
                idx = tail[sub.end() : j2 - 1]
                q = f"{head}element_at(array({inner}), {idx}){tail[j2:]}"
                continue
        q = head + "array(" + inner + ")" + tail


_DEC_LIT = re.compile(r"\bDECIMAL\s*'(-?\d+(?:\.\d+)?)'", re.IGNORECASE)


def _rewrite_decimal_literal(q: str) -> str:
    """Trino typed literal ``DECIMAL '1.23'`` → ``CAST('1.23' AS
    DECIMAL(p,s))`` with p/s inferred from the text (Trino's own rule:
    precision = digit count, scale = fraction length)."""
    while True:
        mask = _code_mask(q)
        m = next((c for c in _DEC_LIT.finditer(q) if mask[c.start()]), None)
        if m is None:
            return q
        v = m.group(1)
        digits = v.lstrip("-")
        scale = len(digits.split(".")[1]) if "." in digits else 0
        prec = max(1, len(digits.replace(".", "")))
        q = q[: m.start()] + f"CAST('{v}' AS DECIMAL({prec},{scale}))" + q[m.end():]


_FP_TYPED_LIT = re.compile(r"\b(DOUBLE|REAL)\s*'([^']*)'", re.IGNORECASE)


def _rewrite_fp_typed_literal(q: str) -> str:
    """Trino typed literals ``DOUBLE '1.5'`` / ``REAL '0.1'`` →
    ``CAST('1.5' AS DOUBLE)`` / ``CAST('0.1' AS FLOAT)`` — Spark's
    parser rejects the typed-literal spelling for fractional types
    (round 12; previously these failed loudly at parse).  The CAST
    form keeps the operand lexically knowable for the rounding/
    rendering passes (which also recognize the raw spelling), and
    Spark's ANSI cast matches Trino's literal validation (bad text →
    error).  Runs after the knowability-driven passes, so it is a
    pure execution-spelling fix."""
    while True:
        mask = _code_mask(q)
        m = next((c for c in _FP_TYPED_LIT.finditer(q) if mask[c.start()]), None)
        if m is None:
            return q
        target = "DOUBLE" if m.group(1).upper() == "DOUBLE" else "FLOAT"
        q = q[: m.start()] + f"CAST('{m.group(2)}' AS {target})" + q[m.end():]


#: Trino parse_duration units → seconds (docs: ns us ms s m h d)
_DURATION_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0,
    "m": 60.0, "h": 3600.0, "d": 86400.0,
}
_PARSE_DURATION = re.compile(
    r"\bparse_duration\s*\(\s*'\s*([0-9]+(?:\.[0-9]+)?)\s*(ns|us|ms|s|m|h|d)\s*'\s*\)",
    re.IGNORECASE,
)
_PARSE_DURATION_HEAD = re.compile(r"\bparse_duration\s*\(", re.IGNORECASE)


def _rewrite_parse_duration(q: str) -> str:
    """Trino ``parse_duration('5m')`` → a Spark day-time interval
    literal (``INTERVAL '300' SECOND``).  Literal-only, like Trino's
    own typed literals; a non-literal argument fails loudly rather than
    guessing at runtime parsing."""
    while True:
        mask = _code_mask(q)
        m = next((c for c in _PARSE_DURATION.finditer(q) if mask[c.start()]), None)
        if m is None:
            break
        secs = float(m.group(1)) * _DURATION_UNITS[m.group(2).lower()]
        lit = f"{secs:.9f}".rstrip("0").rstrip(".")
        q = q[: m.start()] + f"INTERVAL '{lit}' SECOND" + q[m.end():]
    mask = _code_mask(q)
    if any(mask[c.start()] for c in _PARSE_DURATION_HEAD.finditer(q)):
        raise TrinoCompatError(
            "parse_duration() supports only a literal argument like "
            "'5m' (units ns|us|ms|s|m|h|d)"
        )
    return q


_AT_TZ = re.compile(r"\bAT\s+TIME\s+ZONE\s*('(?:[^']|'')*')", re.IGNORECASE)
_TYPED_LIT_KW = ("TIMESTAMP", "DATE", "TIME")


def _rewrite_at_time_zone(q: str) -> str:
    """``expr AT TIME ZONE 'zone'`` → ``from_utc_timestamp(expr, 'zone')``
    (the engine pins a UTC session, so the wall-clock shift reproduces
    Trino's zone-local rendering — same mapping as at_timezone).  The
    operand is captured right-to-left: a parenthesized call, a typed
    literal (TIMESTAMP '...'), or an identifier chain."""
    while True:
        mask = _code_mask(q)
        m = next((c for c in _AT_TZ.finditer(q) if mask[c.start()]), None)
        if m is None:
            return q
        tz = m.group(1)
        i = m.start() - 1
        while i >= 0 and q[i].isspace():
            i -= 1
        if i < 0:
            raise TrinoCompatError("AT TIME ZONE without an operand")
        if not mask[i]:
            # inside a literal: walk to the start of the non-code run,
            # then optionally include a typed-literal keyword before it
            j = i
            while j >= 0 and not mask[j]:
                j -= 1
            start = j + 1
            k = j
            while k >= 0 and q[k].isspace():
                k -= 1
            e = k
            while k >= 0 and (q[k].isalnum() or q[k] == "_"):
                k -= 1
            if q[k + 1 : e + 1].upper() in _TYPED_LIT_KW:
                start = k + 1
        else:
            # identifier chains interleaved with call/paren groups:
            # walk `ident`, `.field`, and `(...)` segments right-to-left
            # so `fn(x).f` captures the whole expression, not just `.f`
            j = i
            while j >= 0:
                if q[j] == ")" and mask[j]:
                    depth = 0
                    while j >= 0:
                        if mask[j]:
                            if q[j] == ")":
                                depth += 1
                            elif q[j] == "(":
                                depth -= 1
                                if depth == 0:
                                    break
                        j -= 1
                    if depth:
                        raise TrinoCompatError(
                            "unbalanced parens before AT TIME ZONE"
                        )
                    j -= 1
                elif j >= 0 and mask[j] and (q[j].isalnum() or q[j] in "_$."):
                    while j >= 0 and mask[j] and (q[j].isalnum() or q[j] in "_$."):
                        j -= 1
                else:
                    break
            start = j + 1
        operand = q[start : i + 1]
        if not operand.strip() or operand.strip().upper() in (
            "END", "NULL", "ELSE", "THEN", "CASE",
        ):
            raise TrinoCompatError(
                "cannot determine the AT TIME ZONE operand — parenthesize "
                f"the expression before AT TIME ZONE (got {operand.strip()!r})"
            )
        q = (
            q[:start]
            + f"from_utc_timestamp({operand}, {tz})"
            + q[m.end():]
        )


_EXTRACT_EPOCH = re.compile(r"\bEXTRACT\s*\(\s*EPOCH\s+FROM\b", re.IGNORECASE)


def _rewrite_extract_epoch(q: str) -> str:
    """Trino ``extract(epoch FROM ts)`` (fractional seconds, DOUBLE) —
    Spark has no epoch extract field."""
    while True:
        mask = _code_mask(q)
        m = next((c for c in _EXTRACT_EPOCH.finditer(q) if mask[c.start()]), None)
        if m is None:
            return q
        depth, j = 1, m.end()
        while j < len(q) and depth:
            if mask[j]:
                if q[j] == "(":
                    depth += 1
                elif q[j] == ")":
                    depth -= 1
            j += 1
        if depth:
            raise TrinoCompatError("unbalanced EXTRACT(EPOCH FROM ...)")
        operand = q[m.end() : j - 1]
        q = (
            q[: m.start()]
            + f"(CAST(unix_micros(CAST({operand} AS TIMESTAMP)) AS DOUBLE) / 1000000.0)"
            + q[j:]
        )


_REGEXP_ALL_HEAD = re.compile(r"\bregexp_extract_all\s*\(", re.IGNORECASE)


def _rewrite_regexp_extract_all(q: str) -> str:
    """Trino's 2-arg regexp_extract_all returns FULL matches; Spark's
    default group index is 1 (and errors when the pattern has no
    groups) — append the explicit 0."""
    pos = 0
    while True:
        found = _find_call(q, _REGEXP_ALL_HEAD, pos)
        if found is None:
            return q
        m, b0, b1 = found
        args = _split_top_args(q[b0:b1])
        if len(args) == 2:
            q = q[:b1] + ", 0" + q[b1:]
        pos = b1 + 1


_ARRAY_AGG_HEAD = re.compile(r"\barray_agg\s*\(", re.IGNORECASE)
_ORDER_BY_IN = re.compile(r"\bORDER\s+BY\b", re.IGNORECASE)


def _rewrite_array_agg_order(q: str) -> str:
    """Trino ``array_agg(x ORDER BY k [ASC|DESC])`` → sort the collected
    (k, x) structs and project x — Spark's array_agg takes no ORDER BY."""
    pos = 0
    while True:
        found = _find_call(q, _ARRAY_AGG_HEAD, pos)
        if found is None:
            return q
        m, b0, b1 = found
        body = q[b0:b1]
        bmask = _code_mask(body)

        def _depth0(upto: int) -> bool:
            d = 0
            for idx in range(upto):
                if bmask[idx]:
                    if body[idx] == "(":
                        d += 1
                    elif body[idx] == ")":
                        d -= 1
            return d == 0

        om = next(
            (c for c in _ORDER_BY_IN.finditer(body)
             if bmask[c.start()] and _depth0(c.start())),
            None,
        )
        if om is None:
            pos = b1
            continue
        expr = body[: om.start()].strip()
        spec = body[om.end():].strip()
        sm2 = re.match(
            r"(?is)^(?P<key>\S+)(?:\s+(?P<dir>ASC|DESC))?"
            r"(?:\s+NULLS\s+(?P<np>FIRST|LAST))?\s*$",
            spec,
        )
        if sm2 is None:
            raise TrinoCompatError(
                f"unsupported array_agg ORDER BY spec {spec!r} "
                "(one key, optional ASC/DESC, optional NULLS FIRST/LAST)"
            )
        key = sm2.group("key")
        desc = (sm2.group("dir") or "ASC").upper() == "DESC"
        # Trino defaults: ASC -> NULLS LAST, DESC -> NULLS FIRST
        np = (sm2.group("np") or ("FIRST" if desc else "LAST")).upper()
        rest = ["DESC"] if desc else []
        distinct = ""
        dm = re.match(r"(?is)^DISTINCT\s+(.*)$", expr)
        if dm:
            distinct, expr = "DISTINCT ", dm.group(1).strip()
            if key != expr:
                # Trino itself rejects an ORDER BY key outside the
                # DISTINCT expressions; with key == expr, DISTINCT over
                # the (null-flag, key, value) struct equals DISTINCT x
                raise TrinoCompatError(
                    "array_agg(DISTINCT x ORDER BY k): k must be x"
                )
        # leading null-flag encodes the null placement: ascending by
        # (flag, key) puts flag=FALSE first, and the DESC reverse flips
        # the ends — IS NULL realizes the Trino defaults (ASC NULLS
        # LAST / DESC NULLS FIRST), IS NOT NULL the explicit opposites.
        # array_sort alone would place null-keyed structs FIRST for
        # ASC, silently diverging.
        default_np = (desc and np == "FIRST") or (not desc and np == "LAST")
        flag = "IS NULL" if default_np else "IS NOT NULL"
        inner = (f"array_sort(collect_list({distinct}struct(({key}) {flag} AS n,"
                 f" {key} AS s, {expr} AS v)))")
        if rest == ["DESC"]:
            inner = f"reverse({inner})"
        repl = f"transform({inner}, __t_p -> __t_p.v)"
        q = q[: m.start()] + repl + q[b1 + 1 :]
        pos = m.start() + len(repl)


#: Trino HLL sketch surface → Spark Datasketches HLL.  approx_set
#: builds a sketch, merge() unions sketches (reaggregation — the
#: pattern that lets a 100 TB rollup combine per-partition sketches
#: without reshuffling raw values), cardinality() reads the estimate.
#: cardinality(...) itself is type-overloaded in Trino (arrays, maps,
#: HLL); only the sketch-composed spellings rewrite — array/map
#: cardinality exists natively in Spark under the same name.
_HLL_CARD_SET = re.compile(
    r"\bcardinality\s*\(\s*approx_set\s*\(", re.IGNORECASE
)
_HLL_CARD_MERGE = re.compile(
    r"\bcardinality\s*\(\s*merge\s*\(", re.IGNORECASE
)
_APPROX_SET_HEAD = re.compile(r"\bapprox_set\s*\(", re.IGNORECASE)
_MERGE_AGG_HEAD = re.compile(r"\bmerge\s*\(", re.IGNORECASE)

#: SetDigest composed-cardinality spellings (mirrors the HLL pattern:
#: `cardinality` is type-overloaded, so only the sketch compositions
#: move to the reader UDF; array/map cardinality stays native).  A
#: scalar-subquery digest — `cardinality((SELECT make_set_digest(x)
#: FROM ...))` — also rewrites (the paren-wrapped head below).
_SETDIGEST_CARD = re.compile(
    r"\bcardinality\s*\((?=\s*\(?\s*(?:SELECT\s+)?"
    r"(?:make_set_digest|merge_set_digest)\s*\()",
    re.IGNORECASE,
)


def _rewrite_setdigest_cardinality(q: str) -> str:
    while True:
        mask = _code_mask(q)
        m = next(
            (c for c in _SETDIGEST_CARD.finditer(q) if mask[c.start()]), None
        )
        if m is None:
            return q
        q = q[: m.start()] + "__setdigest_cardinality(" + q[m.end() :]


def _rewrite_hll_sketches(q: str) -> str:
    """Trino approx_set/merge/cardinality → hll_sketch_agg /
    hll_union_agg / hll_sketch_estimate.  The composed
    ``cardinality(approx_set|merge(...))`` spellings rewrite first so
    the overloaded array/map cardinality stays untouched; the estimate
    is cast to BIGINT (Trino returns bigint)."""
    mask = _code_mask(q)
    if not (
        any(mask[m.start()] for m in _APPROX_SET_HEAD.finditer(q))
        or any(mask[m.start()] for m in _MERGE_AGG_HEAD.finditer(q))
    ):
        return q

    def _close(s: str, start: int) -> int:
        """index just past the ')' matching the '(' at start-1."""
        smask = _code_mask(s)
        d, i = 1, start
        while i < len(s) and d:
            if smask[i] and s[i] == "(":
                d += 1
            elif smask[i] and s[i] == ")":
                d -= 1
            i += 1
        return i

    for pat, inner_fn in (
        (_HLL_CARD_SET, "hll_sketch_agg"),
        (_HLL_CARD_MERGE, "hll_union_agg"),
    ):
        while True:
            mask = _code_mask(q)
            m = next((c for c in pat.finditer(q) if mask[c.start()]), None)
            if m is None:
                break
            inner_end = _close(q, m.end())  # past the inner fn's ')'
            outer_end = _close(q, inner_end)  # past cardinality's ')'
            arg = q[m.end() : inner_end - 1]
            q = (
                q[: m.start()]
                + f"CAST(hll_sketch_estimate({inner_fn}({arg})) AS BIGINT)"
                + q[outer_end:]
            )
    # bare (un-composed) spellings — mask-aware so literals/comments
    # stay untouched.  Trino's merge() is overloaded for HLL, qdigest
    # and tdigest; only the HLL form maps to Spark, so a query that
    # also mentions the digest types (or their accessors) gets a loud
    # unsupported error instead of a confusing sketch-buffer type error
    # after a blind hll_union_agg rewrite.
    mask0 = _code_mask(q)
    if any(mask0[m.start()] for m in _MERGE_AGG_HEAD.finditer(q)) and any(
        mask0[m.start()]
        for m in re.finditer(
            r"\b(qdigest|tdigest|value_at_quantile|values_at_quantiles|"
            r"quantile_at_value|trimmed_mean)\b",
            q,
            re.IGNORECASE,
        )
    ):
        raise TrinoCompatError(
            "merge() over qdigest/tdigest sketches is not supported in SQL "
            "— only the HLL merge() maps to Spark (hll_union_agg).  Use "
            "approx_percentile for direct quantile estimates, or the "
            "engine's mergeable quantile sketches "
            "(mcp_trino_spark.functions.qdigest, a21_qdigest_rollup) for "
            "reaggregatable rollups"
        )
    # MERGE INTO statements never reach translate with a call-shaped
    # merge(
    for head, repl in (
        (_APPROX_SET_HEAD, "hll_sketch_agg("),
        (_MERGE_AGG_HEAD, "hll_union_agg("),
    ):
        while True:
            mask = _code_mask(q)
            m = next((c for c in head.finditer(q) if mask[c.start()]), None)
            if m is None:
                break
            q = q[: m.start()] + repl + q[m.end():]
    return q


_NONE_MATCH_HEAD = re.compile(r"\bnone_match\s*\(", re.IGNORECASE)


def _rewrite_none_match(q: str) -> str:
    """Trino ``none_match(arr, pred)`` → ``(NOT exists(arr, pred))``.
    The wrapping parens matter: postfix predicates (``IS NULL``) bind
    tighter than NOT, so a bare prefix would silently invert
    ``none_match(...) IS NULL``; comparisons (``x = none_match(...)``)
    would not even parse."""
    while True:
        mask = _code_mask(q)
        m = next((c for c in _NONE_MATCH_HEAD.finditer(q) if mask[c.start()]), None)
        if m is None:
            return q
        d, i = 1, m.end()
        while i < len(q) and d:
            if mask[i] and q[i] == "(":
                d += 1
            elif mask[i] and q[i] == ")":
                d -= 1
            i += 1
        q = q[: m.start()] + f"(NOT exists({q[m.end() : i - 1]}))" + q[i:]


_NUMHIST_HEAD = re.compile(r"\bnumeric_histogram\s*\(", re.IGNORECASE)


def _rewrite_numeric_histogram(q: str) -> str:
    """Trino ``numeric_histogram(n, x)`` → Spark ``histogram_numeric(x,
    n)`` reshaped to Trino's ``map<double, double>`` return (Spark
    yields ``array<struct<x, y>>``).  Both are approximate streaming
    histograms (bucket centers × weights) of the same Ben-Haim/
    Tom-Tov family — bucket PLACEMENT is engine-local, so like the
    other sketches this maps the surface, not bit-identical output."""
    while True:
        mask = _code_mask(q)
        m = next((c for c in _NUMHIST_HEAD.finditer(q) if mask[c.start()]), None)
        if m is None:
            return q
        d, i = 1, m.end()
        while i < len(q) and d:
            if mask[i] and q[i] == "(":
                d += 1
            elif mask[i] and q[i] == ")":
                d -= 1
            i += 1
        args = _split_top_args(q[m.end() : i - 1])
        if len(args) != 2:
            raise TrinoCompatError(
                "numeric_histogram takes (buckets, value) — the weighted "
                "3-arg form is not supported"
            )
        n, x = args
        q = (
            q[: m.start()]
            + f"map_from_entries(transform(histogram_numeric({x}, {n}), "
            f"e -> struct(CAST(e.x AS DOUBLE), e.y)))"
            + q[i:]
        )


_GEOMEAN_HEAD = re.compile(r"\bgeometric_mean\s*\(", re.IGNORECASE)
_CHECKSUM_HEAD = re.compile(r"\bchecksum\s*\(", re.IGNORECASE)
_HISTOGRAM_HEAD = re.compile(r"\bhistogram\s*\(", re.IGNORECASE)
_MULTIMAP_HEAD = re.compile(r"\bmultimap_agg\s*\(", re.IGNORECASE)
_MINMAX_BY_HEAD = re.compile(r"\b(max_by|min_by)\s*\(", re.IGNORECASE)
_BIT_COUNT_HEAD = re.compile(r"\bbit_count\s*\(", re.IGNORECASE)


def _rewrite_agg_compositions(q: str) -> str:
    """Trino aggregates Spark lacks, expressed as compositions over
    Spark's native aggregates (SQL UDFs cannot wrap aggregates, so these
    are text rewrites; each stays ONE grouped aggregate plan-side —
    Catalyst dedups the repeated collect_list subexpressions):

    - ``geometric_mean(x)`` → ``exp(avg(ln(x)))``
    - ``checksum(x)`` → ``sum(xxhash64(x))`` (an engine-local
      order-independent digest — Trino's exact bit pattern is not
      reproducible, but the contract users rely on — equal multisets
      hash equal — holds)
    - ``histogram(x)`` → map of value → count
    - ``multimap_agg(k, v)`` → map of key → array of values
    - ``max_by/min_by(x, y, n)`` (3-arg top-n form; 2-arg is native)
    - ``bit_count(x, 64)`` → ``bit_count(x)`` (other widths rejected)
    """
    for head, builder in (
        (_GEOMEAN_HEAD, lambda a: (len(a) == 1, f"exp(avg(ln({a[0]})))")),
        # decimal sum: exact, order-independent, no 64-bit overflow under
        # ANSI (the digest is engine-local either way)
        (
            _CHECKSUM_HEAD,
            lambda a: (
                len(a) == 1,
                f"sum(CAST(xxhash64({a[0]}) AS DECIMAL(38,0)))",
            ),
        ),
        # lambda variables use __-prefixed names so they can never shadow
        # a user column referenced in the argument expression
        (
            _HISTOGRAM_HEAD,
            lambda a: (
                len(a) == 1,
                f"map_from_entries(transform(array_distinct(collect_list({a[0]})),"
                f" __h_k -> struct(__h_k, CAST(size(filter(collect_list({a[0]}),"
                f" __h_e -> __h_e = __h_k)) AS BIGINT))))",
            ),
        ),
        (
            _MULTIMAP_HEAD,
            lambda a: (
                len(a) == 2,
                f"map_from_entries(transform(array_distinct(transform("
                f"collect_list(struct({a[0]} AS k, {a[1]} AS v)), __m_p -> __m_p.k)),"
                f" __m_k -> struct(__m_k, transform(filter("
                f"collect_list(struct({a[0]} AS k, {a[1]} AS v)),"
                f" __m_p -> __m_p.k = __m_k), __m_p -> __m_p.v))))",
            ),
        ),
    ):
        while True:
            found = _find_call(q, head)
            if found is None:
                break
            m, b0, b1 = found
            args = _split_top_args(q[b0:b1])
            ok, repl = builder(args)
            if not ok:
                raise TrinoCompatError(
                    f"unsupported argument count for {m.group(0).strip()})"
                )
            q = q[: m.start()] + repl + q[b1 + 1 :]

    # 3-arg max_by/min_by: top-n values of x by y (2-arg is native Spark)
    pos = 0
    while True:
        found = _find_call(q, _MINMAX_BY_HEAD, pos)
        if found is None:
            break
        m, b0, b1 = found
        args = _split_top_args(q[b0:b1])
        if len(args) != 3:
            pos = b0  # native 2-arg — skip past the head only
            continue
        x, y, n = args
        pairs = (f"array_sort(filter(collect_list(struct({y} AS s, {x} AS v)),"
                 f" __t_p -> __t_p.s IS NOT NULL))")
        if m.group(1).lower() == "max_by":
            pairs = f"reverse({pairs})"
        repl = f"transform(slice({pairs}, 1, {n}), __t_p -> __t_p.v)"
        q = q[: m.start()] + repl + q[b1 + 1 :]
        pos = m.start() + len(repl)

    # Trino bit_count(x, bits): Spark's is 64-bit only
    pos = 0
    while True:
        found = _find_call(q, _BIT_COUNT_HEAD, pos)
        if found is None:
            break
        m, b0, b1 = found
        args = _split_top_args(q[b0:b1])
        if len(args) == 1:
            pos = b1
            continue
        if len(args) == 2 and args[1].strip() == "64":
            repl = f"bit_count({args[0]})"
            q = q[: m.start()] + repl + q[b1 + 1 :]
            pos = m.start() + len(repl)
            continue
        raise TrinoCompatError(
            f"bit_count with bit width {args[1]!r} is not supported "
            "(only 64-bit)"
        )
    return q


#: MySQL-style date_parse/date_format tokens → Spark DateTimeFormatter
_MYSQL_TOKENS = {
    "Y": "yyyy", "y": "yy", "m": "MM", "c": "M", "d": "dd", "e": "d",
    "H": "HH", "k": "H", "h": "hh", "I": "hh", "i": "mm", "s": "ss",
    "S": "ss", "f": "SSSSSS", "p": "a", "j": "DDD", "T": "HH:mm:ss",
    "W": "EEEE", "a": "EEE", "b": "MMM", "M": "MMMM",
}
#: PARSE-direction map (date_parse): MySQL numeric tokens parse 1-2
#: digits leniently (Joda's appendDecimal in Trino's own formatter does
#: too), but Java's PADDED letters ('mm', 'dd', …) require exactly two
#: on parse — '2026-1-2 3:4:5' died on a Trino-valid call (differential
#: sweep catch, round 11).  Single pattern letters parse 1-2 digits AND
#: Spark's 'SSSSSS' fraction parser is length-lenient, so the parse map
#: uses the unpadded spellings; the FORMAT direction keeps the padded
#: map above (output must be zero-padded).
_MYSQL_TOKENS_PARSE = {
    **_MYSQL_TOKENS,
    "m": "M", "c": "M", "d": "d", "e": "d", "H": "H", "k": "H",
    "h": "h", "I": "h", "i": "m", "s": "s", "S": "s", "j": "D",
    "T": "H:m:s",
}
_DATE_PARSE_HEAD = re.compile(r"\bdate_parse\s*\(", re.IGNORECASE)


def _translate_mysql_format(fmt: str, parse: bool = False) -> str:
    """MySQL %-token format → Java DateTimeFormatter pattern.  Bare
    letters are literal text in MySQL formats but pattern letters in
    Java — they come out quoted ('T')."""
    if "'" in fmt:
        raise TrinoCompatError(
            f"quote character inside date format {fmt!r} is not supported"
        )
    table = _MYSQL_TOKENS_PARSE if parse else _MYSQL_TOKENS
    out: List[str] = []
    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "%":
            if i + 1 >= len(fmt):
                raise TrinoCompatError(f"trailing %% in date format {fmt!r}")
            tok = fmt[i + 1]
            if tok == "%":
                out.append("%")
            elif tok in table:
                out.append(table[tok])
            else:
                raise TrinoCompatError(
                    f"unsupported date format token %{tok} in {fmt!r}"
                )
            i += 2
        elif ch.isalpha():
            j = i
            while j < len(fmt) and fmt[j].isalpha() and fmt[j] != "%":
                j += 1
            out.append(f"'{fmt[i:j]}'")
            i = j
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _rewrite_date_parse(q: str) -> str:
    """Trino/MySQL ``date_parse(s, '%Y-%m-%d')`` → Spark
    ``to_timestamp(s, 'yyyy-MM-dd')`` — with the PARSE-direction token
    map (lenient digit counts, see _MYSQL_TOKENS_PARSE).

    Two-digit years pivot like MySQL/Trino: %y maps 70-99 → 1970-1999
    and 00-69 → 2000-2069 (Trino builds its formatter with
    ``appendTwoDigitYear(PIVOT_YEAR = 2020)`` — public source,
    io.trino.operator.scalar.DateTimeFunctions), while Spark's 'yy'
    bases at 2000 (every input lands in 2000-2099).  The rewrite
    subtracts a century when the parsed year lands ≥ 2070 — a
    differential-sweep catch (round 11): date_parse('85/…', '%y/…')
    silently returned 2085 where Trino returns 1985."""
    while True:
        found = _find_call(q, _DATE_PARSE_HEAD)
        if found is None:
            return q
        m, b0, b1 = found
        args = _split_top_args(q[b0:b1])
        if len(args) != 2:
            raise TrinoCompatError("date_parse needs (string, 'format')")
        pat = args[1]
        if not (len(pat) >= 2 and pat[0] == "'" and pat[-1] == "'"):
            raise TrinoCompatError(
                "date_parse format must be a string literal for "
                "MySQL→Spark token translation"
            )
        fmt = pat[1:-1]
        translated = _translate_mysql_format(fmt, parse=True).replace("'", "''")
        ts = f"to_timestamp({args[0]}, '{translated}')"
        toks, _i = set(), 0
        while _i < len(fmt) - 1:
            if fmt[_i] == "%":
                toks.add(fmt[_i + 1])
                _i += 2
            else:
                _i += 1
        if "y" in toks:
            ts = (
                f"(CASE WHEN year({ts}) >= 2070 "
                f"THEN {ts} - INTERVAL '100' YEAR ELSE {ts} END)"
            )
        q = q[: m.start()] + ts + q[b1 + 1 :]


_DATE_FORMAT_HEAD = re.compile(r"\bdate_format\s*\(", re.IGNORECASE)


def _rewrite_date_format(q: str) -> str:
    """Trino ``date_format(ts, '%Y-%m')`` uses MySQL %-tokens; Spark's
    same-named builtin takes Java patterns, where ``%d`` is a literal
    ``%`` plus day-of-month — silently wrong output, not an error.
    Translate literal formats token-for-token (the Joda spelling is
    format_datetime, handled separately); non-literal format expressions
    are rejected loudly."""
    pos = 0
    while True:
        found = _find_call(q, _DATE_FORMAT_HEAD, pos)
        if found is None:
            return q
        m, b0, b1 = found
        args = _split_top_args(q[b0:b1])
        if len(args) != 2:
            raise TrinoCompatError("date_format needs (timestamp, 'format')")
        pat = args[1]
        if not (len(pat) >= 2 and pat[0] == "'" and pat[-1] == "'"):
            raise TrinoCompatError(
                "date_format format must be a string literal for "
                "MySQL→Spark token translation"
            )
        translated = _translate_mysql_format(pat[1:-1]).replace("'", "''")
        repl = f"date_format({args[0]}, '{translated}')"
        q = q[: m.start()] + repl + q[b1 + 1 :]
        pos = m.start() + len(repl)


_CAST_HEAD = re.compile(r"\b(?:CAST|TRY_CAST)\s*\(", re.IGNORECASE)
_TYPE_CTOR = re.compile(r"^(ARRAY|MAP|ROW)\s*\((.*)\)$", re.IGNORECASE | re.DOTALL)


def _convert_type_syntax(t: str) -> str:
    """Trino type spelling → Spark: ``ARRAY(T)`` → ``ARRAY<T>``,
    ``MAP(K, V)`` → ``MAP<K, V>``, ``ROW(name T, …)`` →
    ``STRUCT<name: T, …>`` — recursive; parameterized scalars
    (DECIMAL(10,2), VARCHAR(n)) pass through untouched."""
    s = t.strip()
    if s.upper() == "JSON":
        # Trino's JSON type IS text; nested uses (ARRAY(JSON)) map to
        # STRING — Spark has no JSON type and would reject the CAST.
        # (Top-level CAST(x AS JSON) is rendered by _rewrite_cast_json
        # before this pass ever sees it.)
        return "STRING"
    m = _TYPE_CTOR.match(s)
    if not m:
        return s
    kind, inner = m.group(1).upper(), m.group(2)
    parts = _split_top_args(inner)
    if kind == "ARRAY":
        if len(parts) != 1:
            raise TrinoCompatError(f"ARRAY type takes one parameter: {t!r}")
        return f"ARRAY<{_convert_type_syntax(parts[0])}>"
    if kind == "MAP":
        if len(parts) != 2:
            raise TrinoCompatError(f"MAP type takes two parameters: {t!r}")
        return (f"MAP<{_convert_type_syntax(parts[0])}, "
                f"{_convert_type_syntax(parts[1])}>")
    fields = []
    for p in parts:
        fm = re.match(r"(?s)^([A-Za-z_][\w$]*)\s+(.+)$", p.strip())
        if not fm:
            raise TrinoCompatError(
                f"ROW type fields need 'name TYPE' form, got {p!r} "
                "(anonymous ROW fields are not supported)"
            )
        fields.append(f"{fm.group(1)}: {_convert_type_syntax(fm.group(2))}")
    return f"STRUCT<{', '.join(fields)}>"


def _split_cast_body(body: str):
    """Index of the last top-level AS in a CAST body, or None."""
    mask = _code_mask(body)
    as_at = None
    for am in re.finditer(r"\bAS\b", body, re.IGNORECASE):
        if not mask[am.start()]:
            continue
        depth = 0
        for i in range(am.start()):
            if mask[i]:
                if body[i] == "(":
                    depth += 1
                elif body[i] == ")":
                    depth -= 1
        if depth == 0:
            as_at = am
    return as_at


def _rewrite_cast_json(q: str) -> str:
    """Trino ``CAST(x AS JSON)`` — render any value as JSON text (the
    engine's JSON type IS text, see json_parse/json_format above).
    Spark's ``to_json`` only accepts complex inputs, so the value is
    wrapped in a 1-element array and the brackets stripped — type-
    generic and JVM-side: scalars render as JSON scalars (strings get
    quoted), arrays/maps recurse.  Divergence (documented): Trino
    renders ROW values as JSON *arrays* (field names lost); this
    renders structs as objects, which is lossless and
    json_extract-compatible downstream.  SQL NULL stays NULL, as in
    Trino."""
    pos = 0
    while True:
        found = _find_call(q, _CAST_HEAD, pos)
        if not found:
            return q
        m, bstart, bend = found
        body = q[bstart:bend]
        as_at = _split_cast_body(body)
        if as_at is None or body[as_at.end():].strip().upper() != "JSON":
            pos = m.end()
            continue
        e = body[: as_at.start()].strip()
        # single copy of the operand: the anchored regex strips only the
        # wrapper brackets (inner ones survive), and a SQL NULL operand
        # renders as the bare token `null`, which nullif maps back to
        # SQL NULL — a string value 'null' renders QUOTED ('"null"'),
        # so there is no collision
        repl = (
            f"nullif(regexp_replace(to_json(array({e})),"
            f" '^\\\\[|\\\\]$', ''), 'null')"
        )
        q = q[: m.start()] + repl + q[bend + 1 :]
        # resume INSIDE the replacement (at the embedded operand), so a
        # nested CAST(y AS JSON) within the operand is rewritten too
        pos = m.start() + len("nullif(regexp_replace(to_json(array(")


def _rewrite_cast_types(q: str) -> str:
    """Rewrite the type argument of every CAST/TRY_CAST from Trino's
    constructor spelling to Spark's angle-bracket spelling.  The
    expression part is untouched (nested CASTs inside it are separate
    matches of the scan).

    Collect-then-apply: the scan never mutates ``q``, so the memoized
    code mask serves every _find_call and the pass is linear — the
    per-hit-mutation form was the profiled quadratic hotspot on
    comparison-heavy batches (round 13).  Type segments of nested
    CASTs are disjoint (an inner CAST lives in the outer's EXPRESSION
    part) but NOT scanned in offset order — the outer CAST's head
    matches first while its type segment lies RIGHT of the inner's —
    so edits apply in descending start order, not scan-reverse order
    (the r13 scan-reverse form corrupted any nested CAST whose inner
    type conversion changed length)."""
    pos = 0
    edits = []
    while True:
        found = _find_call(q, _CAST_HEAD, pos)
        if not found:
            break
        m, bstart, bend = found
        body = q[bstart:bend]
        # last top-level AS separates expression from type
        as_at = _split_cast_body(body)
        pos = m.end()
        if as_at is None:
            continue
        type_text = body[as_at.end():]
        converted = _convert_type_syntax(type_text)
        if converted != type_text.strip():
            edits.append((bstart + as_at.end(), bend, " " + converted))
    for start, end, text in sorted(edits, key=lambda e: -e[0]):
        q = q[:start] + text + q[end:]
    return q


_FROM_UNIXTIME_HEAD = re.compile(r"\bfrom_unixtime\s*\(", re.IGNORECASE)


def _rewrite_from_unixtime(q: str) -> str:
    """Trino ``from_unixtime(x, zone)`` → ``from_utc_timestamp(
    timestamp_seconds(x), zone)`` (the engine pins a UTC session, so the
    wall-clock shift reproduces Trino's zone-local rendering — same
    rationale as at_timezone).  The 1-arg form is left for the rename
    pass (→ timestamp_seconds); the 3-arg hours/minutes offset form is
    rejected loudly."""
    pos = 0
    while True:
        found = _find_call(q, _FROM_UNIXTIME_HEAD, pos)
        if not found:
            return q
        m, bstart, bend = found
        args = _split_top_args(q[bstart:bend])
        if len(args) == 1:
            pos = bend
            continue
        if len(args) == 3:
            raise TrinoCompatError(
                "from_unixtime(x, hours, minutes) offset form is not "
                "supported — use from_unixtime(x, 'zone') or add the "
                "offset to x"
            )
        repl = f"from_utc_timestamp(timestamp_seconds({args[0]}), {args[1]})"
        q = q[: m.start()] + repl + q[bend + 1:]
        pos = m.start() + len(repl)


_NORMALIZE_HEAD = re.compile(r"\bnormalize\s*\(", re.IGNORECASE)
_NFC_FORMS = {"NFC", "NFD", "NFKC", "NFKD"}


def _rewrite_normalize(q: str) -> str:
    """Trino ``normalize(s[, FORM])`` (FORM is a bare keyword) →
    ``unicode_normalize(s, 'FORM')`` — the Arrow-vectorized UDF
    installed by install_compat_functions."""
    pos = 0
    while True:
        found = _find_call(q, _NORMALIZE_HEAD, pos)
        if not found:
            return q
        m, bstart, bend = found
        args = _split_top_args(q[bstart:bend])
        if len(args) == 1:
            form = "'NFC'"
        elif len(args) == 2 and args[1].upper() in _NFC_FORMS:
            form = f"'{args[1].upper()}'"
        elif len(args) == 2 and re.fullmatch(r"'(NFC|NFD|NFKC|NFKD)'",
                                             args[1].upper()):
            form = args[1].upper()
        else:
            raise TrinoCompatError(
                f"unsupported normalize() arguments {args!r} — expected "
                "normalize(s) or normalize(s, NFC|NFD|NFKC|NFKD)"
            )
        repl = f"unicode_normalize({args[0]}, {form})"
        q = q[: m.start()] + repl + q[bend + 1:]
        pos = m.start() + len(repl)


#: count is optional in Trino (FETCH FIRST ROW WITH TIES defaults to 1)
_WITH_TIES = re.compile(
    r"\bFETCH\s+(?:FIRST|NEXT)\s+(?:(\d+)\s+)?ROWS?\s+WITH\s+TIES\b", re.IGNORECASE
)
#: both BETWEEN and single-bound frame spellings
_GROUPS_FRAME = re.compile(
    r"\bGROUPS\s+(?:BETWEEN|\d+\s+PRECEDING|CURRENT\s+ROW|UNBOUNDED\s+PRECEDING)\b",
    re.IGNORECASE,
)


def _depths(q: str, mask: List[bool]) -> List[int]:
    """Paren depth at each index, counting only code characters."""
    out, d = [], 0
    for i, ch in enumerate(q):
        if mask[i] and ch == ")":
            d -= 1
        out.append(d)
        if mask[i] and ch == "(":
            d += 1
    return out


def _parse_sort_keys(keys: str) -> List[tuple]:
    """ORDER BY list → ``[(expr, is_desc, nulls_first)]`` with Spark's
    defaults filled in (ASC → NULLS FIRST, DESC → NULLS LAST)."""
    out = []
    for k in _split_top_args(keys):
        km = re.match(
            r"(?is)^(.*?)(?:\s+(ASC|DESC))?(?:\s+NULLS\s+(FIRST|LAST))?\s*$", k
        )
        expr = km.group(1).strip()
        desc = (km.group(2) or "ASC").upper() == "DESC"
        nf = km.group(3).upper() == "FIRST" if km.group(3) else not desc
        out.append((expr, desc, nf))
    return out


def _ties_threshold_filter(keys: List[tuple], n: int, source: str) -> str:
    """The scale-safe WITH TIES predicate.  ``rank() <= n`` over a global
    ORDER BY is equivalent to "sort-key tuple lexicographically at or
    before the n-th row's key tuple" (rank = 1 + #strictly-preceding
    rows), so instead of a single-partition window over the whole input
    — the plan Spark produces for ``RANK() OVER (ORDER BY …)`` with no
    PARTITION BY, which funnels every row through one task at 100 TB —
    we read the n-th key via scalar subqueries and filter:

        top-n of ``source``     → TakeOrderedAndProject (distributed
                                  per-partition top-n, driver merges
                                  n·P rows)
        n-th key component i    → the FIRST row of that top-n under the
                                  REVERSED ordering (ORDER BY … LIMIT 1
                                  over n rows)
        keep row                ⇔ strict₁ ∨ (eq₁ ∧ (strict₂ ∨ …))

    Direction- and NULLS-aware: strictᵢ places NULLs per the key's
    NULLS FIRST/LAST position; eqᵢ is null-safe (``<=>`` — NULL keys are
    sort peers).  Identical threshold subqueries are deduplicated by
    Spark's ReuseSubquery, so ``source`` is scanned twice total (top-n +
    the filtered scan), with zero single-partition stages.  When the
    input has fewer than n rows the threshold is the last row and the
    filter keeps everything — the FETCH-beyond-cardinality semantics."""
    sel = ", ".join(f"({e}) AS __tk{i}" for i, (e, _, _) in enumerate(keys))

    def ordl(rev: bool) -> str:
        parts = []
        for i, (_, desc, nf) in enumerate(keys):
            d, f = (not desc, not nf) if rev else (desc, nf)
            parts.append(
                f"__tk{i} {'DESC' if d else 'ASC'} NULLS {'FIRST' if f else 'LAST'}"
            )
        return ", ".join(parts)

    # ONE subquery returning the whole key tuple as a struct, field-
    # accessed per reference: every reference is textually identical,
    # so ReuseSubquery collapses them to a single execution — a
    # per-column subquery variant ran k+1 scans of the source for k
    # sort keys (distinct projections defeat subquery reuse)
    fields = ", ".join(f"__tk{i}" for i in range(len(keys)))
    # the newline terminates any trailing `--` line comment in the user's
    # FROM body before the generated ORDER BY (kept out of the comment)
    thr_sub = (
        f"(SELECT struct({fields}) FROM (SELECT {sel} FROM {source}\n"
        f"ORDER BY {ordl(False)} LIMIT {n}) __ties_top "
        f"ORDER BY {ordl(True)} LIMIT 1)"
    )

    def thr(i: int) -> str:
        return f"{thr_sub}.__tk{i}"

    cond = None
    for i in reversed(range(len(keys))):
        e, desc, nf = keys[i]
        t = thr(i)
        cmp_ = f"({e}) {'>' if desc else '<'} {t}"
        null_ = (
            f"(({e}) IS NULL AND {t} IS NOT NULL)"
            if nf
            else f"({t} IS NULL AND ({e}) IS NOT NULL)"
        )
        strict = f"({null_} OR {cmp_})"
        eq = f"(({e}) <=> {t})"
        cond = (
            f"({strict} OR {eq})"
            if cond is None
            else f"({strict} OR ({eq} AND {cond}))"
        )
    return cond


def _ties_pushdown(body: str, keys: str, n: int) -> Optional[str]:
    """WITH TIES rewrite for a *simple* body (single top-level
    SELECT ... FROM with no GROUP BY/HAVING/DISTINCT/set-op/CTE/LIMIT
    and no window function in the select list): apply the distributed
    threshold plan (`_ties_threshold_filter`) directly against the FROM
    tail, so sort keys that are base columns NOT in the select list
    still resolve (ANSI allows ``SELECT c_name FROM t ORDER BY
    c_acctbal FETCH ... WITH TIES``):

        SELECT <list> FROM <tail> [WHERE … AND | WHERE] (<threshold
        filter over k'>) ORDER BY k

    ``k'`` substitutes select-list aliases with their expressions (the
    alias does not exist in WHERE scope).  Returns None when the body
    is not simple (grouped/distinct/set-op/CTE bodies keep the
    wrap-the-body form, whose keys ANSI requires to be output columns
    anyway) or when any select item contains a window function — Trino
    applies FETCH *after* windows, so filtering the base relation first
    would change what OVER(...) computes over (the wrap form evaluates
    the body, windows included, before filtering)."""
    mask = _code_mask(body)
    depth = _depths(body, mask)

    def _top(pat: str):
        return [
            m
            for m in re.finditer(pat, body, re.IGNORECASE)
            if mask[m.start()] and depth[m.start()] == 0
        ]

    sel = _top(r"\bSELECT\b")
    fm = _top(r"\bFROM\b")
    if len(sel) != 1 or not fm or body[: sel[0].start()].strip():
        return None  # CTE prefix, set-op second SELECT, or no FROM
    if _top(
        r"\bGROUP\s+BY\b|\bHAVING\b|\bSELECT\s+DISTINCT\b|\bUNION\b|"
        r"\bINTERSECT\b|\bEXCEPT\b|\bLIMIT\b|\bOFFSET\b|\bWINDOW\b"
    ):
        return None
    sel_list = body[sel[0].end() : fm[0].start()]
    smask = _code_mask(sel_list)
    if any(smask[m.start()] for m in _OVER_HEAD.finditer(sel_list)):
        return None  # window in select list: FETCH applies after it
    tail = body[fm[0].end() :].strip()
    aliases: Dict[str, str] = {}
    for it in _split_top_args(sel_list):
        # record `expr AS alias` (last top-level AS only — one inside
        # parens/literals is not an alias)
        imask = _code_mask(it)
        idepth = _depths(it, imask)
        as_pos = it.upper().rfind(" AS ")
        while as_pos != -1 and not (imask[as_pos + 1] and idepth[as_pos + 1] == 0):
            as_pos = it.upper().rfind(" AS ", 0, as_pos)
        if as_pos != -1:
            alias = it[as_pos + 4 :].strip()
            if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", alias):
                aliases[alias.lower()] = it[:as_pos].strip()
    rank_keys = []
    for expr, desc, nf in _parse_sort_keys(keys):
        if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", expr) and expr.lower() in aliases:
            expr = aliases[expr.lower()]
        rank_keys.append((expr, desc, nf))
    tmask = _code_mask(tail)
    tdepth = _depths(tail, tmask)
    where_hits = [
        m
        for m in re.finditer(r"\bWHERE\b", tail, re.IGNORECASE)
        if tmask[m.start()] and tdepth[m.start()] == 0
    ]
    if where_hits:
        # Parenthesize the existing top-level predicate before ANDing the
        # threshold filter on: `WHERE a OR b AND (cond)` would parse as
        # `a OR (b AND cond)` and let earlier OR disjuncts bypass the
        # filter.  The body has no top-level GROUP BY/HAVING/LIMIT/OFFSET
        # (rejected above) and ORDER BY was stripped by the caller, so the
        # predicate runs to the end of the tail.
        w = where_hits[0]
        prefix = tail[: w.start()].rstrip()
        pred = tail[w.end() :].strip()
        # newlines terminate any trailing `--` line comment in the user's
        # text before the generated tokens — otherwise the closing paren
        # and the AND land inside the comment (unbalanced-paren parse
        # error).  rstrip() above makes the same hazard possible for the
        # prefix, hence the newline before WHERE too.
        glued = f"{prefix}\nWHERE ({pred}\n) AND"
    else:
        glued = f"{tail}\nWHERE"
    if n < 1:
        # FETCH FIRST 0 ROWS: empty by definition, no threshold exists
        return f"SELECT {sel_list.strip()} FROM {glued} (1 = 0)"
    cond = _ties_threshold_filter(rank_keys, n, tail)
    return (
        f"SELECT {sel_list.strip()} FROM {glued} ({cond}) ORDER BY {keys}"
    )


def _rewrite_with_ties(query: str) -> str:
    """ANSI/Trino ``ORDER BY k FETCH FIRST n ROWS WITH TIES`` → the
    distributed threshold plan (Spark SQL has no WITH TIES):

        SELECT * FROM ( <body> ) __tb
        WHERE (<lex filter: key tuple at-or-before the n-th key>)
        ORDER BY k

    ``rank() <= n`` ≡ that filter (see `_ties_threshold_filter`), and
    unlike the textbook ``RANK() OVER (ORDER BY k)`` rewrite it never
    plans a single-partition window over the whole input.  Simple
    bodies use the pushed-down variant (`_ties_pushdown`) so sort keys
    need not appear in the select list; complex bodies (grouped /
    distinct / set-op / CTE / windowed select lists) are wrapped, which
    evaluates the body once per threshold read plus once for the filter
    — those bodies end in an aggregation/distinct whose output is far
    smaller than the input, so re-evaluation beats funneling it through
    one task.  Supported shape: the FETCH sits at the top level at the
    end of the statement with a top-level ORDER BY before it (the
    standard's own grammar position).  Anything fancier (FETCH inside a
    subquery, OFFSET combinations) fails loudly rather than guessing."""
    mask = _code_mask(query)
    hits = [m for m in _WITH_TIES.finditer(query) if mask[m.start()]]
    if not hits:
        return query
    depth = _depths(query, mask)
    m = hits[-1]
    if len(hits) > 1 or depth[m.start()] != 0 or query[m.end():].strip().rstrip(";"):
        raise TrinoCompatError(
            "FETCH ... WITH TIES is only supported as the final top-level "
            "clause — rewrite inner occurrences with rank() OVER (...) <= n"
        )
    n = int(m.group(1) or 1)
    ob = [
        om
        for om in re.finditer(r"\bORDER\s+BY\b", query, re.IGNORECASE)
        if mask[om.start()] and depth[om.start()] == 0 and om.start() < m.start()
    ]
    if not ob:
        raise TrinoCompatError(
            "FETCH ... WITH TIES needs a top-level ORDER BY (ties are "
            "defined by the sort key)"
        )
    keys = query[ob[-1].end():m.start()].strip()
    # strip per-item ASC/DESC/NULLS qualifiers (the null-defaults pass
    # makes them explicit) before the positional-key test: `1 NULLS
    # LAST` is still the positional key 1
    bare = [e for e, _, _ in _parse_sort_keys(keys)] if keys else []
    if not keys or all(re.fullmatch(r"\d+", b) for b in bare):
        raise TrinoCompatError(
            "FETCH ... WITH TIES with positional ORDER BY is not supported — "
            "name the sort columns"
        )
    body = query[: ob[-1].start()].rstrip()
    pushed = _ties_pushdown(body, keys, n)
    if pushed is not None:
        return pushed
    if n < 1:
        return f"SELECT * FROM ( {body} ) __tb WHERE 1 = 0"
    cond = _ties_threshold_filter(
        _parse_sort_keys(keys), n, f"( {body} ) __ties_src"
    )
    return f"SELECT * FROM ( {body} ) __tb WHERE ({cond}) ORDER BY {keys}"


_NTH_VALUE_HEAD = re.compile(r"\bnth_value\s*\(", re.IGNORECASE)
_FROM_DIR = re.compile(r"\s*FROM\s+(FIRST|LAST)\b", re.IGNORECASE)
_NULLS_TREAT = re.compile(r"\s*((?:IGNORE|RESPECT)\s+NULLS)\b", re.IGNORECASE)
_OVER_OPEN = re.compile(r"\s*OVER\s*\(", re.IGNORECASE)


def _mirror_frame_bound(b: str) -> str:
    t = " ".join(b.split())
    u = t.upper()
    if u == "CURRENT ROW":
        return "CURRENT ROW"
    if u == "UNBOUNDED PRECEDING":
        return "UNBOUNDED FOLLOWING"
    if u == "UNBOUNDED FOLLOWING":
        return "UNBOUNDED PRECEDING"
    m = re.match(r"(?is)^(.*)\s+(PRECEDING|FOLLOWING)$", t)
    if not m:
        raise TrinoCompatError(
            f"unsupported window frame bound with FROM LAST: {b!r}"
        )
    flip = "FOLLOWING" if m.group(2).upper() == "PRECEDING" else "PRECEDING"
    return f"{m.group(1)} {flip}"


def _reverse_window_spec(inner: str) -> str:
    """Reverse an inline window spec for the FROM LAST rewrite:
    PARTITION BY unchanged; every ORDER BY key flips direction AND null
    placement (spelled explicitly so the reversed order is the exact
    mirror of how the engine evaluates the original); the frame mirrors
    bound-for-bound (``BETWEEN a AND b`` → ``BETWEEN ~b AND ~a``); the
    implicit default frame (RANGE UNBOUNDED PRECEDING .. CURRENT ROW)
    mirrors to an explicit RANGE CURRENT ROW .. UNBOUNDED FOLLOWING."""
    mask = _code_mask(inner)
    depth = _depths(inner, mask)

    def find_kw(pat: str):
        for m in re.finditer(pat, inner, re.IGNORECASE):
            if mask[m.start()] and depth[m.start()] == 0:
                return m
        return None

    mo = find_kw(r"\bORDER\s+BY\b")
    if mo is None:
        raise TrinoCompatError(
            "nth_value ... FROM LAST requires an ORDER BY in its OVER "
            "clause (an unordered window has no defined 'last' row)"
        )
    mf = find_kw(r"\b(ROWS|RANGE|GROUPS)\s+(BETWEEN|UNBOUNDED|CURRENT|\d)")
    if mf is not None and mf.group(1).upper() == "GROUPS":
        raise TrinoCompatError(
            "FROM LAST with a GROUPS frame is not supported — spell the "
            "frame as ROWS or RANGE"
        )
    part = inner[: mo.start()].strip()
    order_body = inner[mo.end() : mf.start() if mf else len(inner)]
    rev_keys = []
    for expr, desc, nulls_first in _parse_sort_keys(order_body):
        rd = "ASC" if desc else "DESC"
        rnp = "LAST" if nulls_first else "FIRST"
        rev_keys.append(f"{expr} {rd} NULLS {rnp}")
    if mf is not None:
        ft = " ".join(inner[mf.start() :].split())
        m = re.match(r"(?is)^(ROWS|RANGE)\s+BETWEEN\s+(.*?)\s+AND\s+(.*)$", ft)
        if m:
            unit, b1, b2 = m.group(1), m.group(2), m.group(3)
        else:
            m = re.match(r"(?is)^(ROWS|RANGE)\s+(.*)$", ft)
            unit, b1, b2 = m.group(1), m.group(2), "CURRENT ROW"
        frame = (
            f"{unit.upper()} BETWEEN {_mirror_frame_bound(b2)} "
            f"AND {_mirror_frame_bound(b1)}"
        )
    else:
        frame = "RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"
    head = f"{part} " if part else ""
    return f"{head}ORDER BY {', '.join(rev_keys)} {frame}"


def _rewrite_nth_from_last(q: str) -> str:
    """SQL-standard ``nth_value(x, n) FROM LAST`` (Spark has no FROM
    FIRST/LAST grammar): n-from-the-end of the frame equals n-from-the-
    start of the SAME frame under the reversed ordering, so the rewrite
    keeps ``nth_value(x, n)`` and reverses the window — ORDER BY
    directions and null placements flipped, frame bounds mirrored
    (tests/test_trino_compat.py derivation).  ``FROM FIRST`` is the
    default and is simply dropped.  Only inline ``OVER (...)`` windows
    are supported; a named window reference fails loudly.

    Reference parity: Trino accepts the standard FROM FIRST/FROM LAST
    grammar on nth_value and the reference passes it through
    (internal/trino/client.go); SURVEY §2 listed this as the last
    rewriteable dialect gap."""
    pos = 0
    while True:
        hit = _find_call(q, _NTH_VALUE_HEAD, pos)
        if hit is None:
            return q
        m, _bs, be = hit
        after = be + 1  # index just past the call's closing paren
        # the standard puts FROM FIRST/LAST before the null treatment,
        # but accept either order (nulls-first spellings exist in the
        # wild); a query with neither clause is left untouched
        cursor = after
        nulls_clause = ""
        nm = _NULLS_TREAT.match(q, cursor)
        if nm:
            nulls_clause = f" {nm.group(1)}"
            cursor = nm.end()
        dm = _FROM_DIR.match(q, cursor)
        if dm is None:
            pos = after
            continue
        direction = dm.group(1).upper()
        cursor = dm.end()
        if not nm:
            nm = _NULLS_TREAT.match(q, cursor)
            nulls_clause = f" {nm.group(1)}" if nm else ""
            if nm:
                cursor = nm.end()
        if direction == "FIRST":
            q = q[:after] + nulls_clause + q[cursor:]
            pos = after
            continue
        om = _OVER_OPEN.match(q, cursor)
        if om is None:
            raise TrinoCompatError(
                "nth_value ... FROM LAST needs an inline OVER (...) window "
                "(named window references are not supported — inline the "
                "window definition)"
            )
        mask = _code_mask(q)
        d, i = 1, om.end()
        while i < len(q) and d:
            if mask[i]:
                if q[i] == "(":
                    d += 1
                elif q[i] == ")":
                    d -= 1
            i += 1
        if d:
            pos = after
            continue  # unbalanced — leave for Spark to reject
        inner = q[om.end() : i - 1]
        rewritten = _reverse_window_spec(inner)
        q = (
            q[:after]
            + nulls_clause
            + " OVER ("
            + rewritten
            + ")"
            + q[i:]
        )
        pos = after
    return q


_EXCLUDE_CLAUSE = re.compile(
    r"\s*\bEXCLUDE\s+(CURRENT\s+ROW|GROUP|TIES|NO\s+OTHERS)\s*$",
    re.IGNORECASE,
)
_EXCLUDE_FRAME = re.compile(
    r"(?is)^(?P<head>.*?)\s*\bROWS\s+BETWEEN\s+(?P<b1>.+?)\s+AND\s+(?P<b2>.+?)\s*$"
)
_WINDOW_AGG_HEAD = re.compile(r"([A-Za-z_][\w$]*)\s*\(", re.IGNORECASE)


def _frame_offset(b: str):
    """ROWS bound → signed offset (None = unbounded on that side)."""
    t = " ".join(b.split()).upper()
    if t == "CURRENT ROW":
        return 0
    if t == "UNBOUNDED PRECEDING":
        return float("-inf")
    if t == "UNBOUNDED FOLLOWING":
        return float("inf")
    m = re.match(r"^(\d+)\s+(PRECEDING|FOLLOWING)$", t)
    if not m:
        raise TrinoCompatError(f"unsupported ROWS frame bound {b!r}")
    n = int(m.group(1))
    return -n if m.group(2) == "PRECEDING" else n


def _exclude_peer_subtraction(spec: str, mode: str, fn: str, arg: str):
    """EXCLUDE GROUP/TIES (and EXCLUDE CURRENT ROW on non-ROWS frames)
    via frame-minus-peer-group subtraction.

    The key invariant: a RANGE / GROUPS / implicit frame that contains
    the current row contains its ENTIRE peer group — RANGE and GROUPS
    bounds are measured in order-key distance, and every peer sits at
    distance 0.  So the excluded aggregate decomposes exactly:

        EXCLUDE GROUP        ->  agg(frame) - agg(peer group)
        EXCLUDE TIES         ->  agg(frame) - agg(peers) + current row
        EXCLUDE CURRENT ROW  ->  agg(frame) - current row

    where ``agg(peer group)`` is the SAME window spec with the frame
    ``RANGE BETWEEN CURRENT ROW AND CURRENT ROW`` — in RANGE mode both
    CURRENT ROW bounds snap to the peer-group edges, so that frame IS
    the peer set, and sharing the (partition, order) spec lets Spark
    evaluate frame and peer aggregates in ONE Window operator over one
    exchange (a PARTITION BY part+keys peer window would add a second
    sort).  Subtraction recovers SUM/COUNT/AVG
    (NULL handling via non-null counts: the result is NULL iff no
    non-null values remain); MIN/MAX cannot be recovered by
    subtraction and are rejected loudly.  ROWS frames are rejected for
    GROUP/TIES — a row-counted frame edge can straddle a peer group,
    so the peer region is NOT guaranteed inside the frame.

    Returns the replacement expression, or None when the frame cannot
    contain the current row (for RANGE/GROUPS that excludes every
    distance-0 peer too, making EXCLUDE a no-op).

    Exactness: the subtraction re-orders double addition — float-exact
    uses need integer-valued aggregands, same protocol as the ROWS
    split path.  Certified against DuckDB's NATIVE EXCLUDE (x31).
    """
    fnl = fn.lower()
    fr = re.search(r"(?is)\b(ROWS|RANGE|GROUPS)\s+(.*)$", spec)
    kind = fr.group(1).upper() if fr else None
    if kind == "ROWS":
        raise TrinoCompatError(
            f"window frame EXCLUDE {mode} on a ROWS frame is not "
            "supported — a row-counted frame edge can straddle the peer "
            "group, so frame-minus-peers subtraction does not apply "
            "(EXCLUDE on RANGE/GROUPS/default frames is supported, as "
            "is EXCLUDE CURRENT ROW on ROWS BETWEEN frames)"
        )
    if fr is not None:
        body = fr.group(2).strip()
        bm = re.match(r"(?is)^BETWEEN\s+(.+?)\s+AND\s+(.+)$", body)
        b1, b2 = (bm.group(1), bm.group(2)) if bm else (body, "CURRENT ROW")

        def side(b: str, end: bool) -> int:
            t = " ".join(b.split()).upper()
            if t == "CURRENT ROW":
                return 0
            if t == "UNBOUNDED PRECEDING":
                return -2
            if t == "UNBOUNDED FOLLOWING":
                return 2
            m2 = re.match(r"(?s)^(.+?)\s+(PRECEDING|FOLLOWING)$", t)
            if not m2:
                raise TrinoCompatError(
                    f"unsupported window frame bound {b!r}"
                )
            if re.fullmatch(r"0+(?:\.0*)?", m2.group(1).strip()):
                return 0
            return -1 if m2.group(2) == "PRECEDING" else 1

        if not (side(b1, False) <= 0 <= side(b2, True)):
            return None
        head = spec[: fr.start()].rstrip()
    else:
        b1, b2 = None, None
        head = spec.strip()  # implicit RANGE UNBOUNDED..CURRENT ROW
    if re.match(r"(?is)^\s*DISTINCT\b", arg):
        raise TrinoCompatError(
            "EXCLUDE rewrite does not support DISTINCT aggregates"
        )
    if re.search(r"(?i)\bORDER\s+BY\b", head) is None:
        raise TrinoCompatError(
            f"EXCLUDE {mode} needs an ORDER BY in the window — peers "
            "are defined by the sort key"
        )
    if fnl in ("min", "max") and mode in ("GROUP", "TIES"):
        # extremes can't be recovered by subtraction, but the frame-
        # minus-peer-group REGION is two peer-group-aligned sub-frames
        # (prefix ending one group before, suffix starting one after)
        # whenever the original bounds are themselves group-aligned
        return _exclude_minmax_sub_windows(
            head, mode, fnl, arg, kind, b1, b2
        )
    if fnl in ("min", "max") and mode == "CURRENT ROW":
        # the excluded region keeps the current row's PEERS: the
        # beyond-group part is the x35 sub-windows, and peers-minus-
        # self decomposes under a peer-group-partitioned refinement
        return _exclude_minmax_current_row(head, fnl, arg, kind, b1, b2)
    if fnl not in ("sum", "count", "avg"):
        raise TrinoCompatError(
            f"EXCLUDE {mode} on a peer-defined frame is supported for "
            f"SUM/COUNT/AVG (frame-minus-peer-group subtraction) and "
            f"MIN/MAX (peer-aligned sub-windows, plus a peer-partition "
            f"split for CURRENT ROW), not {fn}()"
        )
    peer = f"{head} RANGE BETWEEN CURRENT ROW AND CURRENT ROW"
    star = arg.strip() == "*"
    sumf = f"sum({arg}) OVER ({spec})"
    cntf = f"count({arg}) OVER ({spec})"
    sump = f"sum({arg}) OVER ({peer})"
    cntp = f"count({arg}) OVER ({peer})"
    cur = "1" if star else f"(CASE WHEN ({arg}) IS NULL THEN 0 ELSE 1 END)"
    own = f"coalesce({arg}, 0)"
    if mode == "GROUP":
        if fnl == "count":
            return f"({cntf} - {cntp})"
        if fnl == "sum":
            return (
                f"(CASE WHEN {cntf} > {cntp} THEN coalesce({sumf}, 0) - "
                f"coalesce({sump}, 0) ELSE NULL END)"
            )
        return (
            f"((coalesce({sumf}, 0) - coalesce({sump}, 0)) / "
            f"nullif({cntf} - {cntp}, 0))"
        )
    if mode == "TIES":
        if fnl == "count":
            return f"({cntf} - {cntp} + {cur})"
        if fnl == "sum":
            return (
                f"(CASE WHEN {cntf} - {cntp} + {cur} > 0 THEN "
                f"coalesce({sumf}, 0) - coalesce({sump}, 0) + {own} "
                f"ELSE NULL END)"
            )
        return (
            f"((coalesce({sumf}, 0) - coalesce({sump}, 0) + {own}) / "
            f"nullif({cntf} - {cntp} + {cur}, 0))"
        )
    # CURRENT ROW on a RANGE/GROUPS/implicit frame
    if fnl == "count":
        return f"({cntf} - {cur})"
    if fnl == "sum":
        return (
            f"(CASE WHEN {cntf} - {cur} > 0 THEN coalesce({sumf}, 0) - "
            f"{own} ELSE NULL END)"
        )
    return (
        f"((coalesce({sumf}, 0) - {own}) / nullif({cntf} - {cur}, 0))"
    )


def _groups_aligned_bound(b, kind: str):
    """Frame bound → peer-group offset, or None when the bound is not
    group-aligned (a numeric RANGE bound measures order-key DISTANCE —
    its edge can sit anywhere relative to peer-group edges)."""
    if b is None:
        return None
    t = " ".join(b.split()).upper()
    if t == "CURRENT ROW":
        return 0
    if t == "UNBOUNDED PRECEDING":
        return float("-inf")
    if t == "UNBOUNDED FOLLOWING":
        return float("inf")
    m = re.match(r"^(\d+(?:\.0*)?)\s+(PRECEDING|FOLLOWING)$", t)
    if m and re.fullmatch(r"0+(?:\.0*)?", m.group(1)):
        return 0  # 0 PRECEDING/FOLLOWING == CURRENT ROW in any mode
    if kind == "GROUPS" and m and "." not in m.group(1):
        n = int(m.group(1))
        return -n if m.group(2) == "PRECEDING" else n
    return None


def _exclude_minmax_sub_windows(
    head: str, mode: str, fnl: str, arg: str, kind, b1, b2
) -> str:
    """MIN/MAX under EXCLUDE GROUP/TIES on a peer-group-aligned frame:
    the excluded region is exactly

        GROUPS BETWEEN <start> AND 1 PRECEDING   (prefix sub-frame)
      ∪ GROUPS BETWEEN 1 FOLLOWING AND <end>     (suffix sub-frame)
      ∪ {current row}                            (TIES only)

    combined with least()/greatest() (emitted post-dialect-pass, so
    they keep Spark's skip-NULL semantics — an empty sub-frame yields
    NULL and drops out, matching the aggregate's NULL-ignoring
    contract).  The GROUPS sub-windows compile in the immediately
    following _rewrite_groups_frames pass (RANGE over a shared
    dense_rank group number — both sub-windows share the (partition,
    order) spec, so they land in one Window operator over one
    exchange).  Group-aligned means: an implicit frame, a RANGE frame
    with only UNBOUNDED/CURRENT ROW bounds, or a GROUPS frame — a
    numeric-valued RANGE bound is rejected loudly (its edge is an
    order-key distance that can land inside a peer group, so the
    region is not a GROUPS region).  Certified vs DuckDB's native
    EXCLUDE (x35)."""
    if kind is None:  # implicit frame: RANGE UNBOUNDED..CURRENT ROW
        g1, g2 = float("-inf"), 0
    else:
        g1 = _groups_aligned_bound(b1, kind)
        g2 = _groups_aligned_bound(b2, kind)
        if g1 is None or g2 is None:
            raise TrinoCompatError(
                f"EXCLUDE {mode} with {fnl}() needs a peer-group-aligned "
                "frame (implicit, RANGE with UNBOUNDED/CURRENT ROW "
                "bounds, or GROUPS) — a numeric RANGE bound can land "
                "inside a peer group, so the frame-minus-peers region "
                "is not expressible as sub-windows"
            )

    rend = _render_group_bound
    parts = []
    if g1 <= -1:
        parts.append(
            f"{fnl}({arg}) OVER ({head} GROUPS BETWEEN {rend(g1)} "
            f"AND 1 PRECEDING)"
        )
    if g2 >= 1:
        parts.append(
            f"{fnl}({arg}) OVER ({head} GROUPS BETWEEN 1 FOLLOWING "
            f"AND {rend(g2)})"
        )
    if mode == "TIES":
        parts.append(f"({arg})")
    if not parts:
        # frame was exactly the peer group — empty after EXCLUDE GROUP;
        # if() keeps the aggregate's result type without evaluating arg
        return f"if(false, ({arg}), NULL)"
    if len(parts) == 1:
        return f"({parts[0]})"
    comb = "least" if fnl == "min" else "greatest"
    return f"({comb}({', '.join(parts)}))"


def _render_group_bound(g) -> str:
    """Peer-group offset → GROUPS frame bound text."""
    if g == float("-inf"):
        return "UNBOUNDED PRECEDING"
    if g == float("inf"):
        return "UNBOUNDED FOLLOWING"
    if g == 0:
        return "CURRENT ROW"
    return f"{-int(g)} PRECEDING" if g < 0 else f"{int(g)} FOLLOWING"


def _split_window_head(head: str):
    """``[PARTITION BY ...] [ORDER BY ...]`` → (partition-list SQL or
    None, [order-key expressions stripped of ASC/DESC/NULLS
    placement]).  Depth-aware: ORDER BY inside a nested call (e.g.
    ``array_sort``) is not the window's ORDER BY."""
    mask = _code_mask(head)
    depth = _depths(head, mask)
    om = next(
        (
            m
            for m in re.finditer(r"\bORDER\s+BY\b", head, re.IGNORECASE)
            if mask[m.start()] and depth[m.start()] == 0
        ),
        None,
    )
    pm = next(
        (
            m
            for m in re.finditer(r"\bPARTITION\s+BY\b", head, re.IGNORECASE)
            if mask[m.start()] and depth[m.start()] == 0
        ),
        None,
    )
    part = None
    if pm is not None:
        pend = om.start() if om is not None else len(head)
        part = head[pm.end() : pend].strip() or None
    keys = []
    if om is not None:
        for item in _split_top_args(head[om.end() :]):
            item = re.sub(r"(?is)\s+NULLS\s+(FIRST|LAST)\s*$", "", item.strip())
            item = re.sub(r"(?is)\s+(ASC|DESC)\s*$", "", item).strip()
            if item:
                keys.append(item)
    return part, keys


def _exclude_minmax_current_row(
    head: str, fnl: str, arg: str, kind, b1, b2
) -> str:
    """MIN/MAX under EXCLUDE CURRENT ROW on a peer-group-aligned frame:
    unlike GROUP/TIES the excluded region KEEPS the current row's
    peers, so the frame-minus-row region is

        GROUPS BETWEEN <start> AND 1 PRECEDING    (groups before)
      ∪ GROUPS BETWEEN 1 FOLLOWING AND <end>      (groups after)
      ∪ (peer group \\ {current row})

    The first two are the x35 sub-windows (shared dense_rank, one
    exchange).  Peers-minus-self is not expressible in the original
    ordering — every peer sits at order-key distance 0 — but under a
    REFINED window, ``PARTITION BY (partition keys + order keys)``,
    the peer group IS the partition, and "everything but me" is the
    two ROWS half-frames around the current row:

        least(min(x) OVER (refined ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING),
              min(x) OVER (refined ROWS BETWEEN 1 FOLLOWING AND
                           UNBOUNDED FOLLOWING))

    with ``ORDER BY 1`` as the refined sort: both half-frames are
    evaluated in ONE Window operator over one physical order, so
    whatever order Spark picks their union is exactly peers-minus-self
    — the combined extreme is order-invariant even though each half on
    its own is not.  least/greatest skip NULLs, so empty regions drop
    out per the aggregate's NULL-ignoring contract.  Cost: NO extra
    shuffle — the refined window's ClusteredDistribution(part + keys)
    is already satisfied by the coarser hash(part) exchange (hashing a
    key SUBSET co-locates every superset group), so Catalyst plans the
    whole rewrite as one exchange plus per-partition sub-sorts;
    plan-guarded at exactly 1 exchange (tests/test_plans.py).
    Certified vs DuckDB's native EXCLUDE CURRENT ROW (x42).
    """
    if kind is None:  # implicit frame: RANGE UNBOUNDED..CURRENT ROW
        g1, g2 = float("-inf"), 0
    else:
        g1 = _groups_aligned_bound(b1, kind)
        g2 = _groups_aligned_bound(b2, kind)
        if g1 is None or g2 is None:
            raise TrinoCompatError(
                f"EXCLUDE CURRENT ROW with {fnl}() needs a peer-group-"
                "aligned frame (implicit, RANGE with UNBOUNDED/CURRENT "
                "ROW bounds, or GROUPS) — a numeric RANGE bound can "
                "land inside a peer group, so the frame-minus-row "
                "region is not expressible as sub-windows"
            )
    part, keys = _split_window_head(head)
    if not keys:  # caller guarantees an ORDER BY; belt-and-braces
        raise TrinoCompatError(
            "EXCLUDE CURRENT ROW needs an ORDER BY in the window"
        )
    refined = ([part] if part else []) + keys
    rhead = f"PARTITION BY {', '.join(refined)} ORDER BY 1"
    parts = []
    if g1 <= -1:
        parts.append(
            f"{fnl}({arg}) OVER ({head} GROUPS BETWEEN "
            f"{_render_group_bound(g1)} AND 1 PRECEDING)"
        )
    if g2 >= 1:
        parts.append(
            f"{fnl}({arg}) OVER ({head} GROUPS BETWEEN 1 FOLLOWING "
            f"AND {_render_group_bound(g2)})"
        )
    parts.append(
        f"{fnl}({arg}) OVER ({rhead} ROWS BETWEEN UNBOUNDED "
        f"PRECEDING AND 1 PRECEDING)"
    )
    parts.append(
        f"{fnl}({arg}) OVER ({rhead} ROWS BETWEEN 1 FOLLOWING AND "
        f"UNBOUNDED FOLLOWING)"
    )
    comb = "least" if fnl == "min" else "greatest"
    return f"({comb}({', '.join(parts)}))"


#: window functions Spark REFUSES to evaluate without an ORDER BY in
#: the spec, where Trino accepts the orderless form (arbitrary order /
#: all rows peers)
_NEEDS_ORDER_FNS = re.compile(
    r"(row_number|rank|dense_rank|percent_rank|cume_dist|ntile|lead|"
    r"lag|nth_value)$",
    re.IGNORECASE,
)


def _rewrite_orderless_ranking_windows(q: str) -> str:
    """Trino accepts ranking/offset window functions with NO window
    ORDER BY — every row is a peer (rank()=1 everywhere, percent_rank
    0, cume_dist 1) or the order is arbitrary (row_number, ntile,
    lead/lag) — where Spark refuses the spec outright ("requires
    window to be ordered"), so a Trino-valid query errored loudly.
    Appending ``ORDER BY 1`` (a constant sort) reproduces Trino's
    semantics exactly: every row remains a peer, so the deterministic
    functions give identical values and the arbitrary-order ones stay
    arbitrary on both engines.  Aggregate windows (count/sum/... OVER
    ()) already work orderless in Spark and pass through.  Certified
    by x41 over the deterministic all-peers columns (DuckDB evaluates
    the orderless forms natively)."""
    mask = _code_mask(q)
    edits = []
    for om in _OVER_HEAD.finditer(q):
        if not mask[om.start()]:
            continue
        d, i = 1, om.end()
        while i < len(q) and d:
            if mask[i]:
                if q[i] == "(":
                    d += 1
                elif q[i] == ")":
                    d -= 1
            i += 1
        inner = q[om.end() : i - 1]
        imask = _code_mask(inner)
        idepth = _depths(inner, imask)
        if any(
            imask[mm.start()] and idepth[mm.start()] == 0
            for mm in re.finditer(r"\bORDER\s+BY\b", inner, re.IGNORECASE)
        ):
            continue
        # the call directly before OVER must be an order-requiring fn
        j = om.start() - 1
        while j >= 0 and q[j].isspace():
            j -= 1
        if j < 0 or q[j] != ")":
            continue
        depth, k = 0, j
        while k >= 0:
            if mask[k]:
                if q[k] == ")":
                    depth += 1
                elif q[k] == "(":
                    depth -= 1
                    if depth == 0:
                        break
            k -= 1
        fn_end = k
        k -= 1
        while k >= 0 and mask[k] and (q[k].isalnum() or q[k] in "_$"):
            k -= 1
        if not _NEEDS_ORDER_FNS.fullmatch(q[k + 1 : fn_end] or ""):
            continue
        body = inner.strip()
        # an orderless spec may still carry an explicit frame (Trino-
        # legal for nth_value/lead/lag): the injected ORDER BY must go
        # BEFORE the frame clause or the spec is malformed SQL
        fm = next(
            (
                m
                for m in re.finditer(
                    r"\b(ROWS|RANGE|GROUPS)\b", inner, re.IGNORECASE
                )
                if imask[m.start()] and idepth[m.start()] == 0
            ),
            None,
        )
        if fm is not None:
            head_part = inner[: fm.start()].strip()
            frame_part = inner[fm.start() :].strip()
            repl = (
                f"{head_part} ORDER BY 1 {frame_part}"
                if head_part
                else f"ORDER BY 1 {frame_part}"
            )
        else:
            repl = f"{body} ORDER BY 1" if body else "ORDER BY 1"
        edits.append((om.end(), i - 1, repl))
    for start, end, repl in sorted(edits, reverse=True):
        q = q[:start] + repl + q[end:]
    return q


def _rewrite_window_exclude(q: str) -> str:
    """SQL-standard window-frame ``EXCLUDE`` (Spark has no grammar for
    it).  ``EXCLUDE NO OTHERS`` is the default — stripped.  ``EXCLUDE
    CURRENT ROW`` on a ROWS frame decomposes into the two sub-frames
    around the current row, combined per aggregate:

        sum  -> sum(left) + sum(right)     (NULL iff both sides NULL)
        count-> count(left) + count(right)
        min  -> least(left, right)         (least/greatest skip NULLs)
        max  -> greatest(left, right)
        avg  -> (sum_l + sum_r) / (cnt_l + cnt_r), NULL on empty

    A frame that cannot contain the current row (both bounds on one
    side) makes EXCLUDE a no-op — the clause is stripped.  EXCLUDE
    GROUP / TIES, and EXCLUDE CURRENT ROW on RANGE/GROUPS/implicit
    frames, route through frame-minus-peer-group subtraction for
    SUM/COUNT/AVG (_exclude_peer_subtraction — a peer-defined frame
    containing the current row contains its whole peer group);
    GROUP/TIES on ROWS frames stay loudly rejected (a row-counted edge
    can straddle the peer group).  Certified against DuckDB's NATIVE
    window EXCLUDE (x29 for the ROWS split, x31 for the peer path).

    Exactness note (mirrors the per-entry protocol): the split changes
    double-addition ORDER, so float-exact oracle entries must aggregate
    integer-valued columns; the combination is exact for integers,
    counts, and min/max."""
    while True:
        mask = _code_mask(q)
        hit = None
        for om in _OVER_HEAD.finditer(q):
            if not mask[om.start()]:
                continue
            d, i = 1, om.end()
            while i < len(q) and d:
                if mask[i]:
                    if q[i] == "(":
                        d += 1
                    elif q[i] == ")":
                        d -= 1
                i += 1
            inner = q[om.end() : i - 1]
            em = _EXCLUDE_CLAUSE.search(inner)
            if em is None:
                continue
            hit = (om, i, inner, em)
            break
        if hit is None:
            return q
        om, over_end, inner, em = hit
        mode = " ".join(em.group(1).upper().split())
        spec = inner[: em.start()].rstrip()
        if mode == "NO OTHERS":
            # the default semantics — drop the clause
            q = q[: om.end()] + spec + q[over_end - 1 :]
            continue
        # locate the aggregate call directly before OVER
        j = om.start() - 1
        while j >= 0 and q[j].isspace():
            j -= 1
        if j < 0 or q[j] != ")":
            raise TrinoCompatError(
                "EXCLUDE rewrite needs the form agg(...) OVER (...)"
            )
        depth, k = 0, j
        while k >= 0:
            if mask[k]:
                if q[k] == ")":
                    depth += 1
                elif q[k] == "(":
                    depth -= 1
                    if depth == 0:
                        break
            k -= 1
        arg = q[k + 1 : j]
        fn_end = k
        k -= 1
        while k >= 0 and mask[k] and (q[k].isalnum() or q[k] in "_$"):
            k -= 1
        fn = q[k + 1 : fn_end]
        if not fn:
            raise TrinoCompatError(
                "EXCLUDE rewrite needs the form agg(...) OVER (...)"
            )
        fnl = fn.lower()
        fm = _EXCLUDE_FRAME.match(spec) if mode == "CURRENT ROW" else None
        if fm is None:
            # GROUP/TIES on any frame, or CURRENT ROW on a RANGE/GROUPS/
            # implicit frame — peer-group subtraction (see helper)
            repl = _exclude_peer_subtraction(spec, mode, fn, arg)
            if repl is None:
                # frame cannot contain the current row (so, for RANGE/
                # GROUPS, none of its distance-0 peers either) — no-op
                q = q[: om.end()] + spec + q[over_end - 1 :]
            else:
                q = q[: k + 1] + repl + q[over_end:]
            continue
        head, b1, b2 = fm.group("head").strip(), fm.group("b1"), fm.group("b2")
        lo, hi = _frame_offset(b1), _frame_offset(b2)
        if lo > hi:
            raise TrinoCompatError(f"inverted window frame {spec!r}")
        if fnl not in ("sum", "count", "min", "max", "avg"):
            raise TrinoCompatError(
                f"EXCLUDE CURRENT ROW is supported for SUM/COUNT/MIN/MAX/"
                f"AVG window aggregates, not {fn}()"
            )
        if lo > 0 or hi < 0:
            # current row outside the frame — EXCLUDE is a no-op
            q = q[: om.end()] + spec + q[over_end - 1 :]
            continue
        hw = f"{head} " if head else ""
        wl = f"{hw}ROWS BETWEEN {b1} AND 1 PRECEDING" if lo <= -1 else None
        wr = f"{hw}ROWS BETWEEN 1 FOLLOWING AND {b2}" if hi >= 1 else None

        def over(agg_fn, a, w):
            return f"{agg_fn}({a}) OVER ({w})"

        if wl is None and wr is None:
            # frame was exactly the current row: empty after exclusion.
            # count -> 0; others -> typed NULL (the CASE keeps the
            # aggregate's result type without evaluating lexically-
            # unknowable column types)
            one_row = f"{hw}ROWS BETWEEN CURRENT ROW AND CURRENT ROW"
            if fnl == "count":
                repl = "CAST(0 AS BIGINT)"
            else:
                repl = (
                    f"(CASE WHEN 1 = 1 THEN NULL ELSE "
                    f"{over(fnl, arg, one_row)} END)"
                )
        elif fnl == "count":
            parts = [over("count", arg, w) for w in (wl, wr) if w]
            repl = "(" + " + ".join(parts) + ")"
        elif fnl in ("min", "max"):
            combine = "least" if fnl == "min" else "greatest"
            parts = [over(fnl, arg, w) for w in (wl, wr) if w]
            repl = parts[0] if len(parts) == 1 else f"{combine}({parts[0]}, {parts[1]})"
        elif fnl == "sum":
            parts = [over("sum", arg, w) for w in (wl, wr) if w]
            if len(parts) == 1:
                repl = parts[0]
            else:
                repl = (
                    f"(CASE WHEN {parts[0]} IS NULL AND {parts[1]} IS NULL "
                    f"THEN NULL ELSE coalesce({parts[0]}, 0) + "
                    f"coalesce({parts[1]}, 0) END)"
                )
        else:  # avg
            sums = [over("sum", arg, w) for w in (wl, wr) if w]
            cnts = [over("count", arg, w) for w in (wl, wr) if w]
            ssum = " + ".join(f"coalesce({x}, 0)" for x in sums)
            scnt = " + ".join(cnts)
            repl = f"(({ssum}) / nullif({scnt}, 0))"
        q = q[: k + 1] + repl + q[over_end:]
    return q


_OVER_HEAD = re.compile(r"\bOVER\s*\(", re.IGNORECASE)
_GROUPS_SPEC = re.compile(
    r"^(?:PARTITION\s+BY\s+(?P<part>.*?)\s+)?ORDER\s+BY\s+(?P<key>.*?)\s+"
    r"GROUPS\s+(?P<frame>BETWEEN\s+.+?|\S+\s+PRECEDING|CURRENT\s+ROW|"
    r"UNBOUNDED\s+PRECEDING)\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _rewrite_groups_frames(query: str) -> str:
    """SQL GROUPS window frames → RANGE over a dense_rank group number
    (Spark SQL has ROWS/RANGE only).  A GROUPS frame counts *peer
    groups* of the ORDER BY key, which is exactly a RANGE frame over
    ``DENSE_RANK() OVER (same partition, same order)``:

        AGG(x) OVER (PARTITION BY p ORDER BY k GROUPS BETWEEN 1 PRECEDING
                     AND 1 FOLLOWING)
      ≡ AGG(x) OVER (PARTITION BY p ORDER BY __grp RANGE BETWEEN 1
                     PRECEDING AND 1 FOLLOWING)
        with __grp = DENSE_RANK() OVER (PARTITION BY p ORDER BY k)

    The group number is precomputed in a wrapping subquery (a window
    function cannot nest inside another window's ORDER BY).  Supported
    shape: GROUPS windows in the top-level select list of a query whose
    top level has a FROM and no GROUP BY/DISTINCT; single-bound frames
    normalize to BETWEEN ... AND CURRENT ROW.  Same hash partitioning as
    the original window → the rewrite adds no extra shuffle (the
    dense_rank pass and the frame pass share one sort within one
    exchange)."""
    mask = _code_mask(query)
    if not any(mask[m.start()] for m in _GROUPS_FRAME.finditer(query)):
        return query
    depth = _depths(query, mask)

    # locate every OVER (...) span containing a GROUPS frame.  A window
    # wrapped in EXPRESSION parens (CAST(...), ROUND(...)) is fine; one
    # inside a SUBQUERY/CTE is not — the FROM-wrap below would attach
    # the dense_rank to the wrong relation — so reject when any paren
    # enclosing the OVER opens a SELECT/WITH.
    over_positions = {
        om.start() for om in _OVER_HEAD.finditer(query) if mask[om.start()]
    }
    open_stack: List[int] = []
    opens_at: Dict[int, List[int]] = {}
    for i, ch in enumerate(query):
        if i in over_positions:
            opens_at[i] = list(open_stack)
        if not mask[i]:
            continue
        if ch == "(":
            open_stack.append(i)
        elif ch == ")" and open_stack:
            open_stack.pop()

    def _in_subquery(pos: int) -> bool:
        for op in opens_at.get(pos, []):
            j = op + 1
            while j < len(query) and (not mask[j] or query[j].isspace()):
                j += 1
            if re.match(r"(SELECT|WITH)\b", query[j : j + 6], re.IGNORECASE):
                return True
        return False

    spans = []  # (over_start, inner_start, inner_end_exclusive)
    nested = False
    for om in _OVER_HEAD.finditer(query):
        if not mask[om.start()]:
            continue
        bstart = om.end()  # first char inside the paren
        d = 1
        i = bstart
        while i < len(query) and d:
            if mask[i] and query[i] == "(":
                d += 1
            elif mask[i] and query[i] == ")":
                d -= 1
            i += 1
        inner = query[bstart : i - 1]
        if _GROUPS_FRAME.search(inner):
            if _in_subquery(om.start()):
                nested = True
            else:
                spans.append((om.start(), bstart, i - 1))
    if nested or not spans:
        raise TrinoCompatError(
            "GROUPS window frames are only supported in the top-level "
            "select list (not inside subqueries/CTEs) — use ROWS or "
            "RANGE frames"
        )

    fm = [
        f
        for f in re.finditer(r"\bFROM\b", query, re.IGNORECASE)
        if mask[f.start()] and depth[f.start()] == 0
    ]
    sel = [
        s
        for s in re.finditer(r"\bSELECT\b", query, re.IGNORECASE)
        if mask[s.start()] and depth[s.start()] == 0
    ]
    bad_clause = [
        g
        for g in re.finditer(r"\bGROUP\s+BY\b|\bSELECT\s+DISTINCT\b", query, re.IGNORECASE)
        if mask[g.start()] and depth[g.start()] == 0
    ]
    if not fm or not sel or bad_clause or any(s < sel[0].start() for s, _b, _e in [
        (sp[0], sp[1], sp[2]) for sp in spans
    ]) or any(sp[0] > fm[0].start() for sp in spans):
        raise TrinoCompatError(
            "GROUPS window frames are supported only in the top-level "
            "select list of a plain SELECT ... FROM query — use ROWS or "
            "RANGE frames otherwise"
        )

    # rewrite each OVER body; collect distinct (partition, order) groups
    grp_defs: Dict[Tuple[str, str], str] = {}
    new_query = query
    for over_start, bstart, bend in sorted(spans, reverse=True):
        spec = query[bstart:bend].strip()
        sm = _GROUPS_SPEC.match(spec)
        if not sm:
            raise TrinoCompatError(
                f"unsupported GROUPS window spec {spec!r} — expected "
                "[PARTITION BY ...] ORDER BY ... GROUPS <frame>"
            )
        part = (sm.group("part") or "").strip()
        key = sm.group("key").strip()
        frame = " ".join(sm.group("frame").split()).upper()
        if not frame.startswith("BETWEEN"):
            frame = f"BETWEEN {frame} AND CURRENT ROW"
        gkey = (part, key)
        if gkey not in grp_defs:
            grp_defs[gkey] = f"__grp{len(grp_defs)}"
        alias = grp_defs[gkey]
        part_sql = f"PARTITION BY {part} " if part else ""
        new_spec = f"{part_sql}ORDER BY {alias} RANGE {frame}"
        new_query = new_query[:bstart] + new_spec + new_query[bend:]

    # wrap the FROM tail so the group numbers exist as columns.  Only
    # the relation part of the tail may move into the subquery:
    # trailing top-level ORDER BY / LIMIT / OFFSET must stay OUTSIDE it
    # (a LIMIT folded under the window would truncate frames — wrong
    # values, silently), and set operators can't be wrapped at all.
    mask2 = _code_mask(new_query)
    depth2 = _depths(new_query, mask2)
    fm2 = [
        f
        for f in re.finditer(r"\bFROM\b", new_query, re.IGNORECASE)
        if mask2[f.start()] and depth2[f.start()] == 0
    ][0]
    if any(
        mask2[m.start()] and depth2[m.start()] == 0
        for m in re.finditer(
            r"\b(UNION|INTERSECT|EXCEPT)\b", new_query, re.IGNORECASE
        )
    ):
        raise TrinoCompatError(
            "GROUPS window frames over a set operation (UNION/INTERSECT/"
            "EXCEPT) are not supported — use ROWS or RANGE frames"
        )
    trailing_m = [
        m
        for m in re.finditer(
            r"\b(ORDER\s+BY|LIMIT|OFFSET)\b", new_query, re.IGNORECASE
        )
        if mask2[m.start()] and depth2[m.start()] == 0 and m.start() > fm2.end()
    ]
    cut = trailing_m[0].start() if trailing_m else len(new_query)
    tail = new_query[fm2.end():cut].strip().rstrip(";")
    trailing = new_query[cut:].strip().rstrip(";")
    head = new_query[: fm2.start()].rstrip()
    grp_cols = ", ".join(
        f"DENSE_RANK() OVER ({'PARTITION BY ' + p + ' ' if p else ''}"
        f"ORDER BY {k}) AS {alias}"
        for (p, k), alias in grp_defs.items()
    )
    # a bare `*` in the user's select list would silently expand to
    # include the injected __grp columns (an extra-column divergence vs
    # Trino) — wrap the output in `* EXCEPT (...)` to strip them.  A
    # qualified star (alias.*) cannot resolve through the __gsrc wrap at
    # all, so it fails loudly instead.
    hmask = _code_mask(head)
    hdepth = _depths(head, hmask)
    sel_kw = re.match(r"\s*SELECT\b", head, re.IGNORECASE)
    star_bare = False
    for i, ch in enumerate(head):
        if ch != "*" or not hmask[i] or hdepth[i] != 0 or i < sel_kw.end():
            continue
        j = i - 1
        while j >= 0 and (head[j].isspace() or not hmask[j]):
            j -= 1
        prev = head[j] if j >= 0 else ""
        if prev == ".":
            raise TrinoCompatError(
                "GROUPS window frames with a qualified star (alias.*) in "
                "the select list are not supported — name the columns or "
                "use a bare *"
            )
        if j < sel_kw.end() or prev == ",":
            star_bare = True
    out = f"{head} FROM (SELECT *, {grp_cols} FROM {tail}) __gsrc"
    if star_bare:
        grp_aliases = ", ".join(grp_defs.values())
        out = f"SELECT * EXCEPT ({grp_aliases}) FROM ({out}) __gout"
    return f"{out} {trailing}" if trailing else out


_AMF_HEAD = re.compile(r"\bapprox_most_frequent\s*\(", re.IGNORECASE)
_AGG_HEAD = re.compile(
    r"\b(count|sum|avg|min|max|stddev\w*|var\w*|corr|covar\w*|skewness|"
    r"kurtosis|collect_list|collect_set|array_agg|first|last|any_value|"
    r"every|some|bool_and|bool_or|percentile\w*|approx_\w+|median|mode|"
    r"min_by|max_by|count_if|histogram\w*)\s*\(",
    re.IGNORECASE,
)


def _rewrite_approx_most_frequent(query: str) -> str:
    """Trino ``approx_most_frequent(buckets, value, capacity)`` → an
    exact distributed heavy-hitters plan (Spark has no equivalent
    aggregate).  Trino promises the top-``buckets`` values with counts
    whose error is bounded by the ``capacity`` sketch size; computing
    them EXACTLY is a valid refinement of that contract, and the exact
    plan is fully scalable — so ``capacity`` is accepted and ignored:

        SELECT g, approx_most_frequent(3, v, 100) FROM t GROUP BY g
      → per-(g, v) COUNT(*)          (partial+final hash agg)
        → rank per g by count desc   (window PARTITIONED by g)
        → keep rank <= buckets, collect into a count-ordered map

    A grand aggregate (no GROUP BY) replaces the window with
    ORDER BY count LIMIT buckets — TakeOrderedAndProject, no
    single-partition stage.  The upgrade path for inputs whose
    per-group distinct-value count itself explodes is the Misra-Gries
    mergeable summary implemented in functions/heavyhitters.py
    (capacity-bounded per-partition summaries merged associatively —
    the DataFrame-level ``heavy_hitters_by`` / ``a22`` entry); the
    exact plan is preferred until that cardinality wall because it
    shares one shuffle with ordinary aggregation.  NULL values are ignored (aggregate-function
    semantics; Spark map keys cannot be NULL), but a group whose values
    are all NULL keeps its row, with an empty map — the GROUP BY
    cardinality, as the grand aggregate and the sketch route give it.

    Supported shape: one approx_most_frequent call, top-level select
    list, no other aggregate in the list, simple body (no HAVING /
    DISTINCT / set-op / LIMIT / window); ``buckets`` must be an integer
    literal.  Anything else fails loudly."""
    parsed = _parse_approx_most_frequent(query)
    if parsed is None:
        return query
    buckets = parsed["buckets"]
    keys, others, alias = parsed["keys"], parsed["others"], parsed["alias"]
    value, tail, order_tail = parsed["value"], parsed["tail"], parsed["order_tail"]

    map_expr = (
        "map_from_entries(transform(array_sort(collect_list("
        "struct(-__amf_cnt AS __n, __amf_val AS __v, __amf_cnt AS __c)) "
        "FILTER (WHERE __amf_val IS NOT NULL)), "
        "__e -> struct(__e.__v, __e.__c)))"
    )
    out_keys = ", ".join(others) + ", " if others else ""
    if keys:
        # the NULL value's count row stays, ranked last, so an all-NULL
        # group still reaches the final GROUP BY; the FILTER drops it
        # from the map
        counts = (
            f"SELECT {keys}, {value} AS __amf_val, COUNT(*) AS __amf_cnt "
            f"FROM {tail} GROUP BY {keys}, {value}"
        )
        return (
            f"SELECT {out_keys}{map_expr} AS {alias} FROM ("
            f"SELECT *, ROW_NUMBER() OVER (PARTITION BY {keys} "
            f"ORDER BY __amf_val IS NULL, __amf_cnt DESC, __amf_val ASC) "
            f"AS __amf_rk FROM ({counts}) __amf_c"
            f") __amf_r WHERE __amf_rk <= {buckets} "
            f"GROUP BY {keys}{order_tail}"
        )
    counts = (
        f"SELECT {value} AS __amf_val, COUNT(*) AS __amf_cnt FROM {tail} "
        f"GROUP BY {value} HAVING {value} IS NOT NULL"
    )
    return (
        f"SELECT {map_expr} AS {alias} FROM ("
        f"SELECT * FROM ({counts}) __amf_c "
        f"ORDER BY __amf_cnt DESC, __amf_val ASC LIMIT {buckets}"
        f") __amf_r{order_tail}"
    )


def _parse_approx_most_frequent(query: str) -> Optional[dict]:
    """Shared parser for the exact rewrite above and the Misra-Gries
    sketch route (``expand_approx_most_frequent_sketch``): validates
    the supported shape loudly and returns its components, or None
    when the query carries no approx_most_frequent call."""
    mask = _code_mask(query)
    hits = [m for m in _AMF_HEAD.finditer(query) if mask[m.start()]]
    if not hits:
        return None
    if len(hits) > 1:
        raise TrinoCompatError(
            "one approx_most_frequent call per query is supported"
        )
    m = hits[0]
    depth = _depths(query, mask)

    def _top(pat: str):
        return [
            t
            for t in re.finditer(pat, query, re.IGNORECASE)
            if mask[t.start()] and depth[t.start()] == 0
        ]

    sel = _top(r"\bSELECT\b")
    fm = _top(r"\bFROM\b")
    if len(sel) != 1 or not fm or query[: sel[0].start()].strip():
        raise TrinoCompatError(
            "approx_most_frequent is supported in the top-level select "
            "list of a single SELECT ... FROM query"
        )
    if _top(
        r"\bHAVING\b|\bSELECT\s+DISTINCT\b|\bUNION\b|\bINTERSECT\b|"
        r"\bEXCEPT\b|\bLIMIT\b|\bOFFSET\b|\bWINDOW\b|\bOVER\b"
    ):
        raise TrinoCompatError(
            "approx_most_frequent: HAVING/DISTINCT/set-ops/LIMIT/window "
            "shapes are not supported — compute the heavy hitters in a "
            "subquery first"
        )
    # args of the call (balanced-paren scan)
    i = m.end()
    d = 1
    while i < len(query) and d:
        if mask[i]:
            d += {"(": 1, ")": -1}.get(query[i], 0)
        i += 1
    if d:
        raise TrinoCompatError("unbalanced approx_most_frequent call")
    args = _split_top_args(query[m.end() : i - 1])
    if len(args) != 3:
        raise TrinoCompatError(
            "approx_most_frequent(buckets, value, capacity) takes 3 arguments"
        )
    if not re.fullmatch(r"\d+", args[0]):
        raise TrinoCompatError(
            "approx_most_frequent: buckets must be an integer literal"
        )
    buckets, value = int(args[0]), args[1].strip()
    capacity = int(args[2]) if re.fullmatch(r"\d+", args[2].strip()) else None

    sel_list = query[sel[0].end() : fm[0].start()]
    gb = _top(r"\bGROUP\s+BY\b")
    ob = _top(r"\bORDER\s+BY\b")
    gb_end = ob[0].start() if ob else len(query)
    keys = query[gb[0].end() : gb_end].strip().rstrip(";") if gb else ""
    order_tail = " " + query[ob[0].start() :].strip().rstrip(";") if ob else ""
    tail_end = gb[0].start() if gb else (ob[0].start() if ob else len(query))
    tail = query[fm[0].end() : tail_end].strip().rstrip(";")

    # the call's select item (with optional alias) and the other items
    items = _split_top_args(sel_list)
    alias = "approx_most_frequent"
    others = []
    for it in items:
        if _AMF_HEAD.search(it):
            # the item must be the BARE call (+ optional alias): an
            # enclosing expression (map_keys(...), CAST, arithmetic)
            # would be silently dropped by the rebuild below — loud
            # refusal instead
            it_s = it.strip()
            hm = _AMF_HEAD.match(it_s)
            tail_ok = False
            if hm:
                imask = _code_mask(it_s)
                j, d = hm.end(), 1
                while j < len(it_s) and d:
                    if imask[j]:
                        d += {"(": 1, ")": -1}.get(it_s[j], 0)
                    j += 1
                rest = it_s[j:].strip()
                tail_ok = d == 0 and (
                    rest == ""
                    or re.fullmatch(
                        r"AS\s+[A-Za-z_][A-Za-z0-9_]*", rest, re.IGNORECASE
                    )
                )
            if not tail_ok:
                raise TrinoCompatError(
                    "approx_most_frequent must be a bare select item "
                    "(optionally aliased) — wrap further expressions "
                    "around it in an outer query"
                )
            am = re.search(r"\)\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)\s*$", it,
                           re.IGNORECASE)
            if am:
                alias = am.group(1)
        else:
            if _AGG_HEAD.search(it):
                raise TrinoCompatError(
                    "approx_most_frequent cannot be combined with other "
                    "aggregates in one select list — split into two "
                    "queries and join on the group keys"
                )
            others.append(it.strip())

    if others and not keys:
        raise TrinoCompatError(
            "approx_most_frequent without GROUP BY cannot project other "
            "columns alongside the aggregate"
        )
    return {
        "buckets": buckets,
        "value": value,
        "capacity": capacity,
        "keys": keys,
        "others": others,
        "alias": alias,
        "tail": tail,
        "order_tail": order_tail,
    }


#: approx_most_frequent routing knob: "exact" (default — the one-shuffle
#: distributed plan above, a valid refinement of Trino's error contract)
#: or "sketch" (the Misra-Gries mergeable summary in
#: functions/heavyhitters.py — bounded memory past the per-group
#: distinct-value cardinality wall the exact plan's (group, value)
#: counts hit at 100 TB).  The façade (execute_query) consults this
#: before translate(); set it per session via
#: set_approx_most_frequent_mode.  None = never explicitly set, so the
#: façade can let the env-derived config default apply; an EXPLICIT
#: runtime call always wins over the static env default (ADVICE r12 —
#: previously the env var silently suppressed later programmatic sets).
_AMF_MODE: Optional[str] = None


def set_approx_most_frequent_mode(mode: Optional[str]) -> None:
    """Set the session routing mode; ``None`` clears the explicit
    setting so the env/config default applies again."""
    if mode not in ("exact", "sketch", None):
        raise ValueError("approx_most_frequent mode must be 'exact' or 'sketch'")
    global _AMF_MODE
    _AMF_MODE = mode


def approx_most_frequent_mode(default: str = "exact") -> str:
    """The effective mode: the explicitly-set session knob if any,
    else ``default`` (the façade passes its env-derived config)."""
    return _AMF_MODE if _AMF_MODE is not None else default


def expand_approx_most_frequent_sketch(spark, query: str, created_views) -> str:
    """Misra-Gries route for ``approx_most_frequent`` (VERDICT r10 item
    5 — the sketch path was bounds-tested but unreachable from the SQL
    surface): parse the call, build the two-level mergeable-summary
    plan (functions/heavyhitters.py — per-(key, shard) summaries of ≤
    ``capacity`` counters, value-wise merges; the shuffle carries
    compressed summaries, never (group, value) count rows), register it
    as a temp view, and rewrite the query to assemble Trino's
    map-shaped output from the view's top-``buckets`` counters.

    Contract differences vs the exact route (both documented, opt-in
    via ``set_approx_most_frequent_mode("sketch")``): counts are MG
    ESTIMATES (each within ``err ≤ W/(capacity+1)`` per build level of
    its true count — the additive bound Trino's own sketch promises),
    and map keys are STRING (the summary stores values stringified;
    Trino preserves the value type).  Group keys must be plain column
    references so the view can carry them by name."""
    parsed = _parse_approx_most_frequent(query)
    if parsed is None:
        return query
    from mcp_trino_spark.functions.heavyhitters import (
        DEFAULT_CAPACITY, heavy_hitters_by,
    )

    keys = [k.strip() for k in parsed["keys"].split(",") if k.strip()]
    bad = [k for k in keys if not _IDENT_CHAIN.fullmatch(k)]
    if bad:
        raise TrinoCompatError(
            "approx_most_frequent sketch mode requires plain column "
            f"group keys (got {bad}) — use exact mode for expression keys"
        )
    key_names = [k.rsplit(".", 1)[-1] for k in keys]
    # grand aggregate: a constant group key keeps the two-level build's
    # grouping shape (and the output is still one row)
    sel_keys = [f"{k} AS {n}" for k, n in zip(keys, key_names)] or ["1 AS __g"]
    base = spark.sql(
        f"SELECT {', '.join(sel_keys)}, "
        f"{parsed['value']} AS __hh_v FROM {parsed['tail']}"
    )
    summaries = heavy_hitters_by(
        base, "__hh_v", key_names or ["__g"],
        capacity=parsed["capacity"] or DEFAULT_CAPACITY,
    )
    view = f"__amf_sketch_{uuid.uuid4().hex[:8]}"
    summaries.createOrReplaceTempView(view)
    created_views.append(view)
    map_expr = (
        f"map_from_entries(transform("
        f"slice(arrays_zip(hh_vals, hh_counts), 1, {parsed['buckets']}), "
        f"__e -> struct(__e.hh_vals, __e.hh_counts)))"
    )
    out_keys = ", ".join(parsed["others"]) + ", " if parsed["others"] else ""
    return (
        f"SELECT {out_keys}{map_expr} AS {parsed['alias']} "
        f"FROM {view}{parsed['order_tail']}"
    )


_COMBINATIONS_HEAD = re.compile(r"\bcombinations\s*\(", re.IGNORECASE)


def _combinations_sql(arr: str, n: int) -> str:
    """``combinations(arr, n)`` → nested transform/flatten over index
    sequences (i₁ < i₂ < … < iₙ), fully JVM-side and type-generic —
    works for any element type because only element_at/slice touch the
    elements.  NULL array → NULL; size < n → empty list (Trino
    semantics); the typed-empty branch reuses slice so the CASE arms
    agree on ARRAY<ARRAY<elem>> without naming the element type."""
    if n == 0:
        return (
            f"CASE WHEN ({arr}) IS NULL THEN NULL"
            f" ELSE array(slice({arr}, 1, 0)) END"
        )
    elems = ", ".join(f"element_at({arr}, __i{k})" for k in range(1, n + 1))
    body = f"array({elems})"
    for k in range(n, 0, -1):
        lo = "1" if k == 1 else f"__i{k - 1} + 1"
        hi = f"size({arr}) - {n - k}" if n != k else f"size({arr})"
        body = f"transform(sequence({lo}, {hi}), __i{k} -> {body})"
    for _ in range(n - 1):
        body = f"flatten({body})"
    return (
        f"CASE WHEN ({arr}) IS NULL THEN NULL"
        f" WHEN size({arr}) < {n} THEN slice(array(slice({arr}, 1, 0)), 1, 0)"
        f" ELSE {body} END"
    )


def _rewrite_combinations(q: str) -> str:
    """Trino ``combinations(array, n)`` (n-element subsequences, n ≤ 5
    like Trino's own limit) — rewritten per call site since the
    expansion depends on the literal n."""
    while True:
        mask = _code_mask(q)
        m = next(
            (t for t in _COMBINATIONS_HEAD.finditer(q) if mask[t.start()]), None
        )
        if m is None:
            return q
        i, d = m.end(), 1
        while i < len(q) and d:
            if mask[i]:
                d += {"(": 1, ")": -1}.get(q[i], 0)
            i += 1
        if d:
            raise TrinoCompatError("unbalanced combinations() call")
        args = _split_top_args(q[m.end() : i - 1])
        if len(args) != 2 or not re.fullmatch(r"\d+", args[1].strip()):
            raise TrinoCompatError(
                "combinations(array, n) requires a literal n in 0..5"
            )
        n = int(args[1])
        if n > 5:
            raise TrinoCompatError("combinations: n must be <= 5 (Trino's limit)")
        q = q[: m.start()] + _combinations_sql(args[0].strip(), n) + q[i:]


#: Trino quantile-sketch SQL surface.  The composed spellings
#: ``value_at_quantile(qdigest_agg(x), p)`` (and tdigest_agg /
#: values_at_quantiles) ARE the approximate-quantile contract, so they
#: rewrite to percentile_approx directly — same algorithm family
#: (mergeable rank sketch), same error envelope.  Stored-sketch reads
#: (value_at_quantile over a persisted qdigest column) have no Spark
#: SQL twin and fail loudly; functions/qdigest.py is the API for
#: sketch persistence and rollup.
_VAQ_HEAD = re.compile(
    r"\bvalues?_at_quantiles?\s*\(\s*(?:qdigest_agg|tdigest_agg)\s*\(",
    re.IGNORECASE,
)
_VAQ_ANY = re.compile(r"\bvalues?_at_quantiles?\s*\(", re.IGNORECASE)


def _rewrite_quantile_sketches(q: str) -> str:
    start = 0
    while True:
        found = _find_call(q, _VAQ_HEAD, start)
        if found is None:
            break
        # _find_call's span is the INNER (qdigest_agg) argument list —
        # the head pattern ends at the inner '(' — so the quantile
        # argument sits between the inner ')' and the outer ')'
        m, bs, inner_close = found
        x = q[bs:inner_close].strip()
        if len(_split_top_args(x)) != 1:
            # weighted / accuracy-parameterized sketch builds would
            # silently land in percentile_approx's percentage/accuracy
            # slots — refuse rather than misread the arguments
            raise TrinoCompatError(
                "value_at_quantile(qdigest_agg(x), q): unsupported argument shape"
            )
        outer_close = _paren_close(q, inner_close + 1)
        rest = q[inner_close + 1 : outer_close].strip()
        if not rest.startswith(","):
            raise TrinoCompatError(
                "value_at_quantile(qdigest_agg(x), q): unsupported argument shape"
            )
        repl = f"percentile_approx({x}, {rest[1:].strip()})"
        q = q[: m.start()] + repl + q[outer_close + 1 :]
        start = m.start() + len(repl)
    mask = _code_mask(q)
    stray = next((c for c in _VAQ_ANY.finditer(q) if mask[c.start()]), None)
    if stray:
        raise TrinoCompatError(
            "value_at_quantile over a stored/merged qdigest/tdigest "
            "sketch is not supported — compose it directly with "
            "qdigest_agg/tdigest_agg, or use the qdigest rollup API "
            "(functions/qdigest.py) for persisted sketches"
        )
    return q


def _paren_close(s: str, start: int) -> int:
    """Index of the ')' matching the '(' just before ``start``."""
    smask = _code_mask(s)
    d, i = 1, start
    while i < len(s) and d:
        if smask[i] and s[i] == "(":
            d += 1
        elif smask[i] and s[i] == ")":
            d -= 1
        i += 1
    return i - 1


#: SQL/JSON standard functions (json_value/json_query/json_exists).
#: Trino's full grammar takes path modes and ON EMPTY / ON ERROR
#: clauses; the plain two-argument form with a literal
#: ``'strict $.path'`` / ``'lax $.path'`` covers the overwhelmingly
#: common usage and maps onto the existing Trino-exact json_extract
#: machinery (mode stripped — this engine's extractors are lax-shaped,
#: returning NULL where strict mode would error).
_SQL_JSON_HEAD = re.compile(
    r"\b(json_value|json_query|json_exists)\s*\(", re.IGNORECASE
)
#: mode keyword optional: Trino defaults a bare '$…' path to lax
_SQL_JSON_PATH_LIT = re.compile(
    r"^'\s*(?:(?:strict|lax)\s+)?(\$[^']*)'$", re.IGNORECASE
)


def _rewrite_sql_json(q: str) -> str:
    start = 0
    while True:
        found = _find_call(q, _SQL_JSON_HEAD, start)
        if found is None:
            return q
        m, bs, be = found
        fn = m.group(1).lower()
        args = _split_top_args(q[bs:be])
        if len(args) != 2:
            raise TrinoCompatError(
                f"{fn}: only the two-argument form "
                f"{fn}(json, 'strict $.path') is supported "
                "(ON EMPTY / ON ERROR clauses are not)"
            )
        pm = _SQL_JSON_PATH_LIT.match(args[1].strip())
        if pm is None:
            raise TrinoCompatError(
                f"{fn}: the path must be a literal '[strict|lax] $...' "
                f"string, got {args[1].strip()!r}"
            )
        path = pm.group(1).strip()
        if fn == "json_value":
            repl = f"json_extract_scalar({args[0]}, '{path}')"
        elif fn == "json_query":
            repl = f"json_extract({args[0]}, '{path}')"
        else:  # json_exists
            repl = f"(json_extract({args[0]}, '{path}') IS NOT NULL)"
        q = q[: m.start()] + repl + q[be + 1 :]
        # rescan from the replacement: a json_* call nested inside the
        # arguments must translate too (each pass removes one head, so
        # this terminates)
        start = m.start()


_TRIM_ARRAY_HEAD = re.compile(r"\btrim_array\s*\(", re.IGNORECASE)
_ARRAY_CUM_SUM_HEAD = re.compile(r"\barray_cum_sum\s*\(", re.IGNORECASE)
_ARRAY_HISTOGRAM_HEAD = re.compile(r"\barray_histogram\s*\(", re.IGNORECASE)


def _rewrite_array_batch10(q: str) -> str:
    """Type-generic array functions Spark lacks, composed from HOFs so
    any element type works (a SQL UDF would pin one signature):

    - ``trim_array(a, n)`` → slice off the last n (errors past the
      length, like Trino's INVALID_FUNCTION_ARGUMENT)
    - ``array_cum_sum(a)`` → running-sum fold that seeds with the
      array's own empty slice (keeps the element type) and goes NULL
      from the first NULL element onward (Trino's contract)
    - ``array_histogram(a)`` → map value→count over distinct non-null
      elements (null-safe membership count per value)
    """
    for head, render in (
        (
            _TRIM_ARRAY_HEAD,
            lambda a, n: (
                f"CASE WHEN ({n}) < 0 OR ({n}) > size({a}) THEN"
                f" raise_error('trim_array: size must be in [0, cardinality])')"
                f" ELSE slice({a}, 1, size({a}) - ({n})) END"
            ),
        ),
        (
            _ARRAY_CUM_SUM_HEAD,
            lambda a: (
                f"aggregate({a}, slice({a}, 1, 0), (__acc, __x) ->"
                f" concat(__acc, array(CASE WHEN __x IS NULL OR"
                f" (size(__acc) > 0 AND try_element_at(__acc, -1) IS NULL)"
                f" THEN NULL ELSE coalesce(try_element_at(__acc, -1), 0) + __x"
                f" END)))"
            ),
        ),
        (
            _ARRAY_HISTOGRAM_HEAD,
            lambda a: (
                f"map_from_entries(transform(array_distinct(filter({a},"
                f" __x -> __x IS NOT NULL)), __k -> struct(__k,"
                f" CAST(size(filter({a}, __x -> __x <=> __k)) AS BIGINT))))"
            ),
        ),
    ):
        start = 0
        while True:
            found = _find_call(q, head, start)
            if found is None:
                break
            m, bs, be = found
            args = _split_top_args(q[bs:be])
            try:
                repl = render(*args)
            except TypeError:
                raise TrinoCompatError(
                    f"{q[m.start():m.end()].strip('( ')}: wrong argument count"
                ) from None
            q = q[: m.start()] + repl + q[be + 1 :]
            start = m.start() + len(repl)
    return q


#: two-arg word_stem: only English is available (Porter); strip the
#: language when it says so, refuse others rather than mis-stem
_WORD_STEM2 = re.compile(r"\bword_stem\s*\(", re.IGNORECASE)
#: Trino names anonymous ROW fields field0..fieldN; Spark names them
#: col1..colN.  Only the `).fieldN` spelling rewrites (a field access
#: on a parenthesized row expression) — a real column named fieldN is
#: written `t.fieldN` / bare and stays untouched.
_ROW_FIELDN = re.compile(r"\)\s*\.\s*field(\d+)\b")


def _rewrite_word_stem_lang(q: str) -> str:
    start = 0
    while True:
        found = _find_call(q, _WORD_STEM2, start)
        if found is None:
            return q
        m, bs, be = found
        args = _split_top_args(q[bs:be])
        if len(args) == 1:
            start = be + 1
            continue
        if len(args) == 2 and re.fullmatch(r"(?i)'en'", args[1].strip()):
            repl = f"word_stem({args[0]})"
            q = q[: m.start()] + repl + q[be + 1 :]
            start = m.start() + len(repl)
            continue
        raise TrinoCompatError(
            "word_stem: only the English stemmer is available "
            "(word_stem(x) or word_stem(x, 'en'))"
        )


#: shared entry comparator: value DESC (NULLs last), key DESC tiebreak
#: — the ordering Trino's map_top_n family documents
def _entry_cmp_desc() -> str:
    return (
        "(__l, __r) -> CASE"
        " WHEN __l.value IS NULL AND __r.value IS NULL THEN"
        " (CASE WHEN __l.key > __r.key THEN -1"
        " WHEN __l.key < __r.key THEN 1 ELSE 0 END)"
        " WHEN __l.value IS NULL THEN 1 WHEN __r.value IS NULL THEN -1"
        " WHEN __l.value > __r.value THEN -1"
        " WHEN __l.value < __r.value THEN 1"
        " WHEN __l.key > __r.key THEN -1"
        " WHEN __l.key < __r.key THEN 1 ELSE 0 END"
    )


def _desc_nonnull_then_nulls(arr: str) -> str:
    """Elements sorted DESC with NULLs at the end (Trino's top-n order;
    a plain reverse(array_sort(...)) would put NULLs first)."""
    return (
        f"concat(reverse(array_sort(filter({arr}, __x -> __x IS NOT NULL))),"
        f" filter({arr}, __x -> __x IS NULL))"
    )


def _histogram_entries(arr: str) -> str:
    """(key, count) structs over distinct non-null elements."""
    return (
        f"transform(array_distinct(filter({arr}, __x -> __x IS NOT NULL)),"
        f" __k -> struct(__k AS key,"
        f" CAST(size(filter({arr}, __x -> __x <=> __k)) AS BIGINT) AS value))"
    )


def _array_least_frequent(a: str, n: str) -> str:
    """n least-frequent non-null elements, ties broken by smaller value
    (count ASC, key ASC — Trino's documented order)."""
    return (
        f"transform(slice(array_sort({_histogram_entries(a)},"
        " (__l, __r) -> CASE"
        " WHEN __l.value < __r.value THEN -1"
        " WHEN __l.value > __r.value THEN 1"
        " WHEN __l.key < __r.key THEN -1"
        " WHEN __l.key > __r.key THEN 1 ELSE 0 END),"
        f" 1, {n}), __e -> __e.key)"
    )


#: type-generic Trino map/array functions composed from HOF templates
#: (a SQL UDF would pin one element type).  Keyed by arg count; a call
#: with an unlisted arity raises.
_TEMPLATE_REWRITES = [
    (
        re.compile(r"\bmap_remove_null_values\s*\(", re.IGNORECASE),
        {1: lambda m: f"map_filter({m}, (__k, __v) -> __v IS NOT NULL)"},
    ),
    (
        re.compile(r"\bmap_normalize\s*\(", re.IGNORECASE),
        {
            1: lambda m: (
                f"transform_values({m}, (__k, __v) -> __v /"
                f" aggregate(map_values({m}), 0.0D,"
                f" (__a, __x) -> __a + coalesce(__x, 0.0D)))"
            )
        },
    ),
    (
        re.compile(r"\bmap_top_n\s*\(", re.IGNORECASE),
        {
            2: lambda m, n: (
                f"map_from_entries(slice(array_sort(map_entries({m}),"
                f" {_entry_cmp_desc()}), 1, {n}))"
            )
        },
    ),
    (
        re.compile(r"\bmap_top_n_keys\s*\(", re.IGNORECASE),
        {
            2: lambda m, n: (
                f"transform(slice(array_sort(map_entries({m}),"
                f" {_entry_cmp_desc()}), 1, {n}), __e -> __e.key)"
            )
        },
    ),
    (
        re.compile(r"\bmap_top_n_values\s*\(", re.IGNORECASE),
        {
            2: lambda m, n: (
                f"slice({_desc_nonnull_then_nulls(f'map_values({m})')}, 1, {n})"
            )
        },
    ),
    (
        re.compile(r"\bremove_nulls\s*\(", re.IGNORECASE),
        {1: lambda a: f"filter({a}, __x -> __x IS NOT NULL)"},
    ),
    (
        re.compile(r"\barray_top_n\s*\(", re.IGNORECASE),
        {2: lambda a, n: f"slice({_desc_nonnull_then_nulls(a)}, 1, {n})"},
    ),
    (
        re.compile(r"\barray_least_frequent\s*\(", re.IGNORECASE),
        {
            1: lambda a: _array_least_frequent(a, "1"),
            2: _array_least_frequent,
        },
    ),
    (
        re.compile(r"\barray_split_into_chunks\s*\(", re.IGNORECASE),
        {
            2: lambda a, n: (
                f"CASE WHEN ({n}) < 1 THEN"
                f" raise_error('array_split_into_chunks: size must be > 0')"
                f" WHEN size({a}) = 0 THEN slice(transform({a},"
                f" __x -> {a}), 1, 0)"
                f" ELSE transform(sequence(1, CAST(ceil(size({a}) /"
                f" CAST({n} AS DOUBLE)) AS INT)),"
                f" __i -> slice({a}, (__i - 1) * ({n}) + 1, {n})) END"
            )
        },
    ),
    (
        re.compile(r"\barray_sort_desc\s*\(", re.IGNORECASE),
        {1: _desc_nonnull_then_nulls},
    ),
    (
        re.compile(r"\barray_duplicates\s*\(", re.IGNORECASE),
        {
            1: lambda a: (
                f"filter(array_distinct({a}),"
                f" __k -> size(filter({a}, __x -> __x <=> __k)) > 1)"
            )
        },
    ),
    (
        re.compile(r"\barray_has_duplicates\s*\(", re.IGNORECASE),
        {1: lambda a: f"(size({a}) <> size(array_distinct({a})))"},
    ),
    (
        re.compile(r"\barray_frequency\s*\(", re.IGNORECASE),
        {1: lambda a: f"map_from_entries({_histogram_entries(a)})"},
    ),
    (
        # n-ary form (Trino 4xx): fold pairwise intersections; the
        # native 2-arg form stays untouched
        re.compile(r"\barray_intersect\s*\(", re.IGNORECASE),
        {
            1: lambda aa: (
                f"aggregate(slice({aa}, 2, size({aa}) - 1),"
                f" element_at({aa}, 1),"
                f" (__acc, __x) -> array_intersect(__acc, __x))"
            ),
            2: lambda a, b: f"array_intersect({a}, {b})",
        },
    ),
    (
        re.compile(r"\bto_base64url\s*\(", re.IGNORECASE),
        {1: lambda x: f"translate(base64({x}), '+/', '-_')"},
    ),
    (
        re.compile(r"\bfrom_base64url\s*\(", re.IGNORECASE),
        {1: lambda x: f"unbase64(translate({x}, '-_', '+/'))"},
    ),
    (
        re.compile(r"\bstrpos\s*\(", re.IGNORECASE),
        # 2-arg strpos is a Spark builtin; only 3-arg routes to the UDF
        {2: lambda s, sub: f"strpos({s}, {sub})",
         3: lambda s, sub, n: f"__strpos3({s}, {sub}, {n})"},
    ),
    # Trino's optional precision argument — this engine is fixed at
    # microsecond precision, so the argument only selects a display
    # precision Trino truncates to; dropping it keeps the instant
    (
        re.compile(r"\bcurrent_timestamp\s*\(", re.IGNORECASE),
        {1: lambda p: "current_timestamp()", 0: lambda: "current_timestamp()"},
    ),
    (
        re.compile(r"\blocaltimestamp\s*\(", re.IGNORECASE),
        {1: lambda p: "localtimestamp()", 0: lambda: "localtimestamp()"},
    ),
    # 1-arg format_number is Trino's humanized form (123456 → '123K');
    # the 2-arg form is Spark's thousands-separator builtin
    (
        re.compile(r"\bformat_number\s*\(", re.IGNORECASE),
        {1: lambda x: f"__format_number_human({x})",
         2: lambda x, d: f"format_number({x}, {d})"},
    ),
]


def _rewrite_templates(q: str) -> str:
    for head, by_arity in _TEMPLATE_REWRITES:
        start = 0
        while True:
            found = _find_call(q, head, start)
            if found is None:
                break
            m, bs, be = found
            args = _split_top_args(q[bs:be])
            if args == [""]:  # empty parens = zero arguments
                args = []
            render = by_arity.get(len(args))
            if render is None:
                raise TrinoCompatError(
                    f"{q[m.start():m.end()].rstrip('( ')}: unsupported "
                    f"argument count {len(args)} "
                    f"(supported: {sorted(by_arity)})"
                )
            repl = render(*args)
            if repl == q[m.start() : be + 1]:
                # identity render (e.g. 2-arg strpos passes through):
                # advance past it or the rescan below would loop
                start = be + 1
                continue
            q = q[: m.start()] + repl + q[be + 1 :]
            # rescan from the replacement so a same-head call nested in
            # the arguments is rewritten too (each pass either shrinks
            # the pending-call count or hits the identity branch above)
            start = m.start()
    return q


def _sub_ident_outside_literals(body: str, var: str, repl: str) -> str:
    """Replace word-boundary occurrences of ``var`` in ``body``, but
    ONLY in code spans — a lambda body like ``coalesce(x, 'x')`` must
    keep its string literal intact (a bare regex sub would turn the two
    comparator copies into DIFFERENT literals and silently mis-order)."""
    mask = _code_mask(body)
    out, last = [], 0
    for m in re.finditer(rf"\b{re.escape(var)}\b", body):
        if not mask[m.start()]:
            continue
        out.append(body[last : m.start()])
        out.append(repl)
        last = m.end()
    out.append(body[last:])
    return "".join(out)


_ARRAY_MINMAX_HEAD = re.compile(r"\barray_(min|max)\s*\(", re.IGNORECASE)


def _rewrite_array_minmax_nulls(q: str, column_types=None) -> str:
    """Trino ``array_max``/``array_min`` return NULL when the array
    CONTAINS a null element (the comparator is null-rejecting:
    ArrayMaxFunction / ArrayMinFunction); Spark's builtins silently
    SKIP null elements — ``array_max(ARRAY[1, NULL])`` is NULL in
    Trino, 1 in Spark.  User-spelled calls get a null-containment
    guard::

        CASE WHEN exists(a, x -> x IS NULL) THEN NULL
             ELSE array_max(a) END

    exists() on a NULL array yields NULL → CASE falls to the ELSE
    whose array_max(NULL) is NULL (parity); an empty array yields
    false → array_max(empty) is NULL in both engines.  The inner call
    is emitted under a sentinel spelling so the scan never re-enters
    its own output (the x37 convention); the guard duplicates the
    array expression (Catalyst CSE keeps evaluation single — the
    documented guard-growth trade).  ``array_max_by``/``array_min_by``
    do not match (the head regex requires ``(`` directly after the
    name) and already skip NULL keys by contract.

    NaN (r15, x80): Trino's docs pin "returns NaN if the array
    contains NaN" for BOTH functions (the 393 NaN program), where
    Spark's NaN-largest ordering makes ``array_min(ARRAY[nan(), 1])``
    return 1 (array_max already coincides).  Arrays whose element
    type is KNOWABLY double (x47 shape contract — constructor
    spellings, CAST targets, catalog array<double> columns) gain a
    NaN arm after the NULL arm; ``isnan`` on arbitrary element types
    would be an analysis error, so unknowable arrays keep the
    NULL-only guard (documented residue).  NULL-before-NaN precedence
    preserves the driver-certified x51 contract on mixed arrays.
    """
    types = {
        str(k).lower(): str(v).lower() for k, v in (column_types or {}).items()
    }
    while True:
        found = _find_call(q, _ARRAY_MINMAX_HEAD, 0)
        if found is None:
            break
        m, b0, b1 = found
        fn = f"array_{m.group(1).lower()}"
        a = q[b0:b1].strip()
        if not a or len(_split_top_args(a)) != 1:
            raise TrinoCompatError(f"{fn}() takes exactly one array argument")
        try:
            shape = _operand_shape(a, types)
        except Exception:
            shape = None
        nan_arm = (
            f" WHEN exists({a}, __t_amn -> isnan(__t_amn))"
            f" THEN double('NaN')"
            if shape == ("array", ("double",))
            else ""
        )
        repl = (
            f"CASE WHEN exists({a}, __t_amn -> __t_amn IS NULL)"
            f" THEN NULL{nan_arm} ELSE __t_{fn}({a}) END"
        )
        q = q[: m.start()] + repl + q[b1 + 1 :]
    return q.replace("__t_array_max(", "array_max(").replace(
        "__t_array_min(", "array_min("
    )


_TYPEOF_HEAD = re.compile(r"\btypeof\s*\(", re.IGNORECASE)

#: Spark catalogString word → Trino type-name spelling, applied to
#: typeof()'s OUTPUT at runtime (typeof's value is the static type of
#: the expression — constant per query — so the chain folds to one
#: tiny string transform per row group).  Order-independent: \b never
#: matches inside bigint/smallint/tinyint/timestamp_ntz.
_TYPEOF_WORD_MAP = (
    ("\\\\bint\\\\b", "integer"),
    ("\\\\bstring\\\\b", "varchar"),
    ("\\\\bfloat\\\\b", "real"),
    ("\\\\bbinary\\\\b", "varbinary"),
    ("\\\\bvoid\\\\b", "unknown"),
    ("\\\\btimestamp_ntz\\\\b", "timestamp(6)"),
    # (?!\() so the bare rule cannot re-match the 'timestamp(6)' the
    # ntz rule just emitted
    ("\\\\btimestamp\\\\b(?!\\\\()", "timestamp(6)"),
    (
        "\\\\binterval (year|month)( to (year|month))?\\\\b",
        "interval year to month",
    ),
    (
        "\\\\binterval (day|hour|minute|second)( to (day|hour|minute|second))?\\\\b",
        "interval day to second",
    ),
    # Trino separates complex-type parameters with ', ' (map/row) but
    # spells decimal(10,2) without the space — space only before a
    # non-digit
    (",(?=\\\\S)(?!\\\\d)", ", "),
)


def _rewrite_typeof_trino(q: str) -> str:
    """``typeof()`` with Trino type-name SPELLINGS.

    Spark's typeof returns catalog spellings (``int``, ``string``,
    ``array<int>``, ``struct<a:int>``); Trino returns SQL spellings
    (``integer``, ``varchar``, ``array(integer)``,
    ``row(a integer)``) — every call silently diverged.  The rewrite
    maps the output through a constant JVM-side string chain:
    ``struct``→``row``, ``<>:`` → ``() `` (struct field colons become
    the space Trino puts between a row field's name and type), word
    renames per _TYPEOF_WORD_MAP, and Trino's comma-space convention
    (``map(varchar, integer)`` but ``decimal(10,2)``).

    Literal operands CONSTANT-FOLD to Trino's per-literal inference
    (round-13 closure of the x50 residue): ``typeof(TIMESTAMP
    '2020-01-01')`` → ``'timestamp(0)'`` (precision = the literal's
    fractional-digit count — Trino TimestampType parsing), and
    ``typeof('abc')`` → ``'varchar(3)'`` (code-point length, Trino
    VarcharType.createVarcharType over the literal) — both were
    documented residues of the runtime chain, which can only see
    Spark's unparameterized spellings.

    Documented residue (type-system gaps, not spelling bugs):
    NON-literal timestamps map to ``timestamp(6)`` — Spark timestamps
    are µs-precision under this engine's pinned UTC session and the
    catalog cannot carry a narrower precision; zoned timestamp
    literals keep the runtime chain (Spark folds the zone into the
    session); non-literal varchar is unparameterized; anonymous ROW
    constructors carry Spark's ``col1``/``col2`` field names where
    Trino omits names.

    Reference parity: typeof evaluates in Trino and the reference
    forwards text verbatim (internal/trino/client.go:284-291).
    """
    while True:
        found = _find_call(q, _TYPEOF_HEAD, 0)
        if found is None:
            break
        m, b0, b1 = found
        e = q[b0:b1].strip()
        ts = re.fullmatch(
            r"(?is)TIMESTAMP\s*'\s*(\d{4}-\d{2}-\d{2}"
            r"(?:[ T]\d{1,2}:\d{2}(?::\d{2}(?:\.(\d+))?)?)?)\s*'",
            e,
        )
        if ts is not None:
            p = len(ts.group(2) or "")
            q = q[: m.start()] + f"'timestamp({p})'" + q[b1 + 1 :]
            continue
        if re.fullmatch(r"'(?:[^']|'')*'", e):
            n = len(e[1:-1].replace("''", "'"))
            q = q[: m.start()] + f"'varchar({n})'" + q[b1 + 1 :]
            continue
        s = f"replace(__t_typeof({e}), 'struct', 'row')"
        s = f"translate({s}, '<>:', '() ')"
        for pat, rep in _TYPEOF_WORD_MAP:
            s = f"regexp_replace({s}, '{pat}', '{rep}')"
        q = q[: m.start()] + s + q[b1 + 1 :]
    return q.replace("__t_typeof(", "typeof(")


#: array_min_by/array_max_by take a LAMBDA — the rewrite substitutes
#: the lambda variable into a pair comparator, so the key expression
#: stays type-generic and JVM-side
_ARRAY_MINMAX_BY = re.compile(r"\barray_(min|max)_by\s*\(", re.IGNORECASE)
_LAMBDA_SHAPE = re.compile(
    r"^\(?\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)?\s*->\s*(.+)$", re.DOTALL
)


def _rewrite_array_minmax_by(q: str) -> str:
    while True:
        mask = _code_mask(q)
        m = next(
            (c for c in _ARRAY_MINMAX_BY.finditer(q) if mask[c.start()]), None
        )
        if m is None:
            return q
        close = _paren_close(q, m.end())
        args = _split_top_args(q[m.end() : close])
        if len(args) != 2:
            raise TrinoCompatError("array_min_by/array_max_by take (array, lambda)")
        lam = _LAMBDA_SHAPE.match(args[1].strip())
        if lam is None:
            raise TrinoCompatError(
                "array_min_by/array_max_by: second argument must be a "
                "single-variable lambda `x -> expr`"
            )
        var, body = lam.group(1), lam.group(2).strip()
        kl = _sub_ident_outside_literals(body, var, "__l")
        kr = _sub_ident_outside_literals(body, var, "__r")
        lo, hi = ("-1", "1")
        if m.group(1).lower() == "max":
            lo, hi = ("1", "-1")
        repl = (
            f"try_element_at(array_sort(filter({args[0]},"
            f" {var} -> ({body}) IS NOT NULL),"
            f" (__l, __r) -> CASE WHEN ({kl}) < ({kr}) THEN {lo}"
            f" WHEN ({kl}) > ({kr}) THEN {hi} ELSE 0 END), 1)"
        )
        q = q[: m.start()] + repl + q[close + 1 :]


#: SQL/JSON constructors.  JSON_ARRAY honors Trino's ABSENT ON NULL
#: default (nulls dropped unless NULL ON NULL is written); JSON_OBJECT
#: supports the [KEY] 'k' VALUE v item form with literal keys (objects
#: default to NULL ON NULL, which named_struct matches).  The JSON
#: type itself doesn't exist in Spark, so the constructors produce the
#: canonical string form via to_json — the same representation the
#: rest of the json function surface consumes.
_JSON_ARRAY_HEAD = re.compile(r"\bJSON_ARRAY\s*\(", re.IGNORECASE)
_JSON_OBJECT_HEAD = re.compile(r"\bJSON_OBJECT\s*\(", re.IGNORECASE)
_JSON_ON_NULL = re.compile(
    r"\s+(NULL|ABSENT)\s+ON\s+NULL\s*$", re.IGNORECASE
)
_JSON_OBJECT_ITEM = re.compile(
    r"^(?:KEY\s+)?('(?:[^']|'')*')\s+VALUE\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)


def _rewrite_json_constructors(q: str) -> str:
    start = 0
    while True:
        found = _find_call(q, _JSON_ARRAY_HEAD, start)
        if found is None:
            break
        m, bs, be = found
        body = q[bs:be]
        keep_nulls = False
        on_null = _JSON_ON_NULL.search(body)
        if on_null:
            keep_nulls = on_null.group(1).upper() == "NULL"
            body = body[: on_null.start()]
        items = ", ".join(_split_top_args(body))
        arr = f"array({items})"
        if not keep_nulls:
            arr = f"filter({arr}, __x -> __x IS NOT NULL)"
        repl = f"to_json({arr})"
        q = q[: m.start()] + repl + q[be + 1 :]
        start = m.start()  # rescan: nested JSON_ARRAY items translate too
    start = 0
    while True:
        found = _find_call(q, _JSON_OBJECT_HEAD, start)
        if found is None:
            return q
        m, bs, be = found
        body = q[bs:be]
        on_null = _JSON_ON_NULL.search(body)
        if on_null:
            if on_null.group(1).upper() == "ABSENT":
                raise TrinoCompatError(
                    "JSON_OBJECT: ABSENT ON NULL is not supported "
                    "(named_struct keeps every declared key)"
                )
            body = body[: on_null.start()]
        pairs = []
        for item in _split_top_args(body):
            im = _JSON_OBJECT_ITEM.match(item.strip())
            if im is None:
                raise TrinoCompatError(
                    "JSON_OBJECT: items must be [KEY] 'literal' VALUE expr"
                )
            pairs.append(f"{im.group(1)}, {im.group(2).strip()}")
        repl = f"to_json(named_struct({', '.join(pairs)}))"
        q = q[: m.start()] + repl + q[be + 1 :]
        start = m.start()  # rescan: nested JSON_OBJECT values translate too


_IF_HEAD = re.compile(r"\bif\s*\(", re.IGNORECASE)


def _rewrite_two_arg_if(q: str) -> str:
    """Trino allows ``if(cond, value)`` (NULL when false); Spark's if is
    strictly ternary — append the NULL."""
    start = 0
    while True:
        found = _find_call(q, _IF_HEAD, start)
        if found is None:
            return q
        m, bs, be = found
        args = _split_top_args(q[bs:be])
        if len(args) == 2:
            q = q[:be] + ", NULL" + q[be:]
            start = m.start()  # rescan: a nested 2-arg if() needs its NULL too
        else:
            start = m.end()


def _rewrite_row_fieldn(q: str) -> str:
    mask = _code_mask(q)
    out, last = [], 0
    for m in _ROW_FIELDN.finditer(q):
        if not mask[m.start()]:
            continue
        out.append(q[last : m.start()])
        out.append(f").col{int(m.group(1)) + 1}")
        last = m.end()
    out.append(q[last:])
    return "".join(out)


#: quantified comparison predicates (`expr op ANY|SOME|ALL (subquery)`)
#: — Spark has no quantified subqueries.  `= ANY` ≡ IN and `<> ALL`
#: ≡ NOT IN exactly (three-valued NULL semantics included, Spark's
#: IN-subquery implements them).  Ordering quantifiers map onto
#: min/max scalar subqueries (`> ALL (S)` ⇔ `> (SELECT max FROM S)`),
#: exact for non-empty subqueries: ALL thresholds NULL-poison when any
#: element is NULL, and ANY carries an OR'd null-degrade guard
#: (`x > min(S) OR (NULL if S has a NULL else FALSE)`) so its FALSE
#: cases become UNKNOWN when a NULL element exists while TRUE
#: witnesses stay TRUE — in both directions never wrongly TRUE and
#: never TRUE→UNKNOWN.  The one remaining divergence is the empty
#: subquery (standard: ALL→TRUE / ANY→FALSE; this yields UNKNOWN —
#: conservative under filtering), documented here rather than
#: silently mis-parsed.
_QUANTIFIED = re.compile(
    r"(?P<op>=|<>|!=|<=|>=|<|>)\s*(?P<quant>ANY|SOME|ALL)\s*\(",
    re.IGNORECASE,
)

#: keywords that terminate a left-operand backscan: anything at lower
#: precedence than a comparison, clause heads, and CASE frame words
_OPERAND_STOP_KW = {
    "SELECT", "FROM", "WHERE", "GROUP", "BY", "HAVING", "ON", "AND",
    "OR", "NOT", "WHEN", "THEN", "ELSE", "CASE", "END", "IN",
    "BETWEEN", "LIKE", "IS", "JOIN", "SET", "VALUES", "AS",
}


def _left_operand_start(q: str, mask: List[bool], pos: int) -> int:
    """Start index of the expression ending just before ``pos``.

    Captures primary segments right-to-left — identifier chains
    (``a.b.c``, numbers), call/paren groups with their function name,
    string and typed literals — and chains across binary arithmetic
    operators (``+ - * / % ||``) so ``a - b > ANY (S)`` wraps the whole
    ``a - b``.  Comparisons bind looser than arithmetic and tighter
    than NOT/AND/OR, so stopping at ``_OPERAND_STOP_KW`` / punctuation
    is exactly the comparison operand boundary.  Raises when no operand
    is found (e.g. an unparenthesized CASE), asking the caller to
    parenthesize — same contract as the AT TIME ZONE backscan."""
    i = pos - 1
    start = None
    while True:
        while i >= 0 and q[i].isspace():
            i -= 1
        if i < 0:
            break
        if not mask[i]:
            # string literal: walk to the start of the non-code run,
            # then optionally include a typed-literal keyword before it
            j = i
            while j >= 0 and not mask[j]:
                j -= 1
            seg = j + 1
            run = q[seg : i + 1]
            # a comment adjacent to the operator is NOT an operand —
            # skip it and keep scanning left (`x /* c */ > ANY (S)`)
            if run.endswith("*/"):
                c = run.rfind("/*")
                if c >= 0:
                    i = seg + c - 1
                    continue
            if run.startswith("--"):
                i = seg - 1
                continue
            k = j
            while k >= 0 and q[k].isspace():
                k -= 1
            e = k
            while k >= 0 and (q[k].isalnum() or q[k] == "_"):
                k -= 1
            if q[k + 1 : e + 1].upper() in _TYPED_LIT_KW:
                seg = k + 1
            start, i = seg, seg - 1
        elif q[i] == ")":
            depth, j = 0, i
            while j >= 0:
                if mask[j]:
                    if q[j] == ")":
                        depth += 1
                    elif q[j] == "(":
                        depth -= 1
                        if depth == 0:
                            break
                j -= 1
            if depth:
                raise TrinoCompatError(
                    "unbalanced parens before a quantified comparison"
                )
            j -= 1
            # include the call's function-name chain, if any
            while j >= 0 and mask[j] and (q[j].isalnum() or q[j] in "_$."):
                j -= 1
            start, i = j + 1, j
        elif q[i] == "]":
            # array subscript(s): walk each [..] to its opener, then
            # require an identifier-chain base (`arr[1]`, `m.f[1][2]`);
            # other bases (ARRAY literals, call results) keep the loud
            # parenthesize guidance below
            j = i
            while j >= 0 and mask[j] and q[j] == "]":
                depth = 0
                while j >= 0:
                    if mask[j]:
                        if q[j] == "]":
                            depth += 1
                        elif q[j] == "[":
                            depth -= 1
                            if depth == 0:
                                break
                    j -= 1
                if depth:
                    raise TrinoCompatError(
                        "unbalanced brackets before a quantified comparison"
                    )
                j -= 1
                while j >= 0 and q[j].isspace():
                    j -= 1
            e2 = j
            while j >= 0 and mask[j] and (q[j].isalnum() or q[j] in "_$."):
                j -= 1
            base = q[j + 1 : e2 + 1]
            if not base or base.upper() in _OPERAND_STOP_KW | {"ARRAY", "MAP"}:
                break
            start, i = j + 1, j
        elif q[i].isalnum() or q[i] in "_$.":
            j = i
            while j >= 0 and mask[j] and (q[j].isalnum() or q[j] in "_$."):
                j -= 1
            if q[j + 1 : i + 1].upper() in _OPERAND_STOP_KW:
                break
            start, i = j + 1, j
        else:
            break
        # continue only across a binary arithmetic operator
        k = i
        while k >= 0 and q[k].isspace():
            k -= 1
        if k >= 1 and mask[k] and q[k - 1 : k + 1] == "||":
            i = k - 2
            continue
        if k >= 0 and mask[k] and q[k] in "+-*/%":
            p = k - 1
            while p >= 0 and q[p].isspace():
                p -= 1
            unary = p < 0 or (mask[p] and q[p] in "(,+-*/%<>=|")
            if not unary and q[k] in "+-" and p >= 0 and mask[p] and (
                q[p].isalnum() or q[p] == "_"
            ):
                # a word right before the sign: `WHEN -3 > ANY (S)` is a
                # unary sign after a keyword, `a - 3 > ANY (S)` a binary
                # minus after an identifier — the word decides
                w = p
                while w >= 0 and mask[w] and (q[w].isalnum() or q[w] in "_$."):
                    w -= 1
                unary = q[w + 1 : p + 1].upper() in _OPERAND_STOP_KW
            if q[k] in "+-" and unary:
                # unary sign: part of the operand, and nothing precedes
                start = k
                break
            i = k - 1
            continue
        break
    if start is None:
        raise TrinoCompatError(
            "cannot determine the left operand of a quantified comparison"
            " — parenthesize the expression before the operator"
        )
    return start


def _rewrite_quantified_comparisons(q: str, subquery_type=None) -> str:
    """``subquery_type`` (optional, r15): callable typing a parenthesized
    subquery via the session analyzer (LIMIT-0 schema — no jobs run);
    returns the Spark simpleString of the single output column or None.
    When it certifies a DOUBLE/REAL set, the ordering thresholds become
    NaN-aware (Trino's DoubleOperators make every ordering comparison
    against NaN FALSE; Spark's min/max order NaN largest — a silent
    ALL/ANY divergence on any float set a NaN can reach)."""
    while True:
        mask = _code_mask(q)
        m = next(
            (c for c in _QUANTIFIED.finditer(q) if mask[c.start("quant")]),
            None,
        )
        if m is None:
            return q
        op, quant = m.group("op"), m.group("quant").upper()
        close = _paren_close(q, m.end())
        sub = q[m.end() : close]
        if op == "=" and quant in ("ANY", "SOME"):
            repl = f" IN ({sub})"
        elif op in ("<>", "!=") and quant == "ALL":
            repl = f" NOT IN ({sub})"
        elif (op == "=" and quant == "ALL") or (
            op in ("<>", "!=") and quant in ("ANY", "SOME")
        ):
            # = ALL: true on EMPTY; false when any non-null element
            # differs (min/max over the non-null set pin both ends);
            # unknown when all non-null elements match but a NULL is
            # present.  <> ANY is its exact three-valued negation
            # (∃≠ ≡ ¬∀=) — safe to spell as NOT(...) because the form
            # contains only scalar subqueries, not the InSubquery whose
            # negation Catalyst reroutes through anti-join semantics.
            # On analyzer-certified float sets a NaN element decides
            # FALSE for = ALL (Trino's NaN equals nothing), spelled as
            # one more conjunct so false still dominates NULL-degrade.
            set_t = None
            if subquery_type is not None:
                try:
                    set_t = subquery_type(f"({sub})")
                except Exception:
                    set_t = None
            nan_set = set_t in ("double", "float")
            lstart = _left_operand_start(q, mask, m.start())
            left = q[lstart : m.start()].strip()
            empty = f"(SELECT count(*) = 0 FROM ({sub}) __q)"
            mn = f"(SELECT min(__v) FROM ({sub}) __q(__v))"
            mx = f"(SELECT max(__v) FROM ({sub}) __q(__v))"
            hasnull = (
                f"(SELECT count(*) > count(__v) FROM ({sub}) __q(__v))"
            )
            parts = [
                f"{left} = {mn}",
                f"{left} = {mx}",
                f"IF({hasnull}, CAST(NULL AS BOOLEAN), true)",
            ]
            if nan_set:
                parts.append(
                    f"(NOT (SELECT coalesce(bool_or(isnan(__v)), false)"
                    f" FROM ({sub}) __q(__v)))"
                )
            body = f"({empty} OR ({' AND '.join(parts)}))"
            if op != "=":
                body = f"(NOT {body})"
            q = q[:lstart] + body + q[close + 1 :]
            continue
        elif op in ("<", "<=", ">", ">="):
            # ALL needs the extreme the predicate must clear; ANY the
            # most favorable witness
            agg = (
                "max"
                if (op in (">", ">=")) == (quant == "ALL")
                else "min"
            )
            set_t = None
            if subquery_type is not None:
                try:
                    set_t = subquery_type(f"({sub})")
                except Exception:
                    set_t = None
            nan_set = set_t in ("double", "float")
            lstart = _left_operand_start(q, mask, m.start())
            left = q[lstart : m.start()].strip()
            if quant == "ALL":
                # a NULL element makes `op ALL` at best UNKNOWN, never
                # TRUE — min/max silently ignore NULLs, which would let
                # a WHERE keep rows the standard excludes.  Poisoning
                # the threshold to NULL when any element is NULL yields
                # UNKNOWN for exactly those rows (the standard's FALSE
                # cases also become UNKNOWN — identical under WHERE,
                # and never wrongly TRUE).  A NaN element (analyzer-
                # certified float set) poisons the threshold to NaN
                # FIRST: Trino's `op NaN` is false and ALL's false
                # dominates unknown, so NaN wins over NULL-degrade;
                # the NaN-guarded comparison pass downstream turns the
                # `op NaN` into FALSE.  The `count(*) = 0` disjunct is
                # the standard's vacuous truth on EMPTY sets (Trino:
                # `x < ALL (empty)` is TRUE; the bare threshold form
                # said UNKNOWN — an r15 closure).
                nan_arm = (
                    "WHEN bool_or(isnan(__v)) THEN double('NaN') "
                    if nan_set
                    else ""
                )
                thr = (
                    f"(SELECT CASE {nan_arm}WHEN count(*) > count(__v)"
                    f" THEN NULL"
                    f" ELSE {agg}(__v) END FROM ({sub}) __q(__v))"
                )
                empty = f"(SELECT count(*) = 0 FROM ({sub}) __q)"
                q = (
                    q[:lstart]
                    + f"({empty} OR ({left} {op} {thr}))"
                    + q[close + 1 :]
                )
                continue
            # ANY: the symmetric hazard runs the other way — a TRUE
            # witness must stay TRUE even when other elements are NULL,
            # so the threshold itself cannot be poisoned.  Instead OR a
            # null-degrade guard onto the comparison: TRUE short-
            # circuits the OR, and a not-TRUE comparison (FALSE or
            # UNKNOWN from a NULL left operand) degrades to UNKNOWN
            # exactly when the subquery contains a NULL element.  The
            # OR changes precedence, so the WHOLE predicate — left
            # operand included (backscan above) — is parenthesized.
            # Catalyst's ReuseSubquery collapses the textually
            # identical subqueries into one execution.  The
            # `thr IS NOT NULL AND` arm closes the EMPTY-set gap
            # (Trino: `op ANY (empty)` is FALSE; the bare comparison
            # said UNKNOWN — r15) and doubles as the all-NaN-set
            # backstop when the analyzer certifies a float set (NaN
            # elements can never witness an ordering in Trino, so they
            # are blanked out of the threshold; an all-NaN set then
            # yields FALSE like Trino, not UNKNOWN).
            velem = "IF(isnan(__v), NULL, __v)" if nan_set else "__v"
            thr = f"(SELECT {agg}({velem}) FROM ({sub}) __q(__v))"
            guard = (
                f"(SELECT CASE WHEN count(*) > count(__v) THEN"
                f" CAST(NULL AS BOOLEAN) ELSE FALSE END"
                f" FROM ({sub}) __q(__v))"
            )
            q = (
                q[:lstart]
                + f"(({thr} IS NOT NULL AND {left} {op} {thr})"
                + f" OR {guard})"
                + q[close + 1 :]
            )
            continue
        else:
            raise TrinoCompatError(
                f"quantified comparison {op} {quant} is not supported "
                "(= ANY/SOME, <> ALL, and ordering quantifiers are)"
            )
        q = q[: m.start()] + repl + q[close + 1 :]


_ENTROPY_HEAD = re.compile(r"\bentropy\s*\(", re.IGNORECASE)
_KURTOSIS_HEAD = re.compile(r"\bkurtosis\s*\(", re.IGNORECASE)
_KURT_TOKEN = "__kurtosis_pop__"

_MINMAX_N_HEAD = re.compile(r"(?<![\w$])(min|max)\s*\(", re.IGNORECASE)


def _rewrite_kurtosis_unbiased(q: str) -> str:
    """Trino's ``kurtosis(x)`` is the UNBIASED sample excess kurtosis
    (its docs spell the n(n+1)/((n-1)(n-2)(n-3))·Σz⁴ − 3(n-1)²/
    ((n-2)(n-3)) estimator); Spark's kurtosis is the POPULATION excess
    g2 = m4/m2² − 3 — silently different values on every group
    (probe-caught round 10: −0.212 vs 3.152 on the same five values).
    The two are algebraically linked,

        G2 = (n-1)/((n-2)(n-3)) · ((n+1)·g2 + 6),

    so the rewrite reuses Spark's numerically-stable central-moment
    kurtosis instead of respelling raw power sums (which cancel
    catastrophically when |mean| ≫ stddev): one extra count aggregate,
    still one partial+final pass.  n ≤ 3 yields NULL (the estimator's
    denominator — Trino and DuckDB both return NULL there, and the
    CASE keeps Spark from emitting ±Infinity).  Skewness needs no
    rewrite: both engines compute the population g1.  Certified by
    x46 vs DuckDB's native kurtosis (DuckDB computes the same
    unbiased estimator — a true differential)."""
    while True:
        hit = _find_call(q, _KURTOSIS_HEAD)
        if hit is None:
            break
        m, b0, b1 = hit
        args = _split_top_args(q[b0:b1])
        if len(args) != 1:
            raise TrinoCompatError("kurtosis() takes one argument")
        e = args[0].strip()
        # a window form hangs OVER (...) off the call: the clause must
        # move INSIDE onto every generated aggregate — `(CASE...END)
        # OVER (...)` is a parse error (ADVICE r10; same relocation
        # _rewrite_minmax_n performs)
        end = b1 + 1
        om = re.match(r"\s*OVER\s*\(", q[end:], re.IGNORECASE)
        over = ""
        if om:
            mask = _code_mask(q)
            d, i = 1, end + om.end()
            while i < len(q) and d:
                if mask[i]:
                    if q[i] == "(":
                        d += 1
                    elif q[i] == ")":
                        d -= 1
                i += 1
            over = " " + q[end:i].strip()
            end = i
        n = f"count({e}){over}"
        repl = (
            f"(CASE WHEN {n} > 3 THEN (({n} - 1) / "
            f"(({n} - 2) * ({n} - 3))) * "
            f"(({n} + 1) * {_KURT_TOKEN}({e}){over} + 6) END)"
        )
        q = q[: m.start()] + repl + q[end:]
    return q.replace(_KURT_TOKEN, "kurtosis")


_STAT_EDGE_HEAD = re.compile(
    r"\b(corr|regr_slope|regr_intercept)\s*\(", re.IGNORECASE
)
_FINITE_GUARD_TOKEN_NAN = "__stat_isnan__"


def _trailing_over(q: str, end: int):
    """``(over_text, new_end)`` for a window clause hanging off a call
    that closed at ``end`` — ('', end) when there is none.  The clause
    must relocate INSIDE any expression wrapped around the call:
    ``IF(...) OVER (...)`` is a parse error (same relocation
    _rewrite_kurtosis_unbiased and _rewrite_minmax_n perform)."""
    om = re.match(r"\s*OVER\s*\(", q[end:], re.IGNORECASE)
    if not om:
        return "", end
    mask = _code_mask(q)
    d, i = 1, end + om.end()
    while i < len(q) and d:
        if mask[i]:
            if q[i] == "(":
                d += 1
            elif q[i] == ")":
                d -= 1
        i += 1
    return " " + q[end:i].strip(), i


def _rewrite_stat_agg_edges(q: str) -> str:
    """Trino's ``corr`` / ``regr_slope`` / ``regr_intercept`` write
    their result only when it is FINITE and append NULL otherwise
    (DoubleCorrelationAggregation / DoubleRegressionAggregation's
    ``Double.isFinite`` output gate), while Spark diverges two ways
    (round-13 probe):

    - ``corr`` on a CONSTANT group **raises DIVIDE_BY_ZERO under ANSI
      mode** (the zero variance reaches ``ck / sqrt(xMk * yMk)``
      unguarded) — a valid Trino query errors; with NaN/Inf inputs it
      returns NaN where Trino returns NULL.  Respelled from its
      algebraic components, ``covar_pop / nullif(stddev_pop *
      stddev_pop, 0)``, then finite-gated — the zero denominator never
      divides, and NaN/Inf funnel to NULL.  (Same m2-ratio up to one
      extra 1/n rounding; cross-engine float corr already differs in
      the last ULPs by partial-aggregation order.)
    - ``regr_slope`` / ``regr_intercept`` guard the zero denominator
      (NULL, matching Trino's gate) but return NaN on NaN/Inf inputs
      where Trino returns NULL.  Output-wrapped with the finite gate;
      Catalyst deduplicates the repeated aggregate, so it is still
      computed once.

    A trailing OVER clause relocates onto every generated aggregate.
    Nondeterministic-bearing arguments are skipped (the respell would
    re-draw per aggregate); ``skewness`` is left alone — both engines
    compute the population g1 and the m2=0 edge (Spark NULL) has no
    verifiable Trino pin in-sandbox.  Certified by x64; the randomized
    sweep in tests/test_differential_semantics.py crosses constant /
    single-row / NaN / Inf groups.  isnan is emitted via a placeholder
    token so the _rewrite_try pass (which targets user-spelled calls)
    never sees it mid-flight.

    Reference parity: Trino DoubleCorrelationAggregation.corr /
    DoubleRegressionAggregation (isFinite-else-NULL), text forwarded
    verbatim (internal/trino/client.go:284-291).
    """
    pos = 0
    while True:
        found = _find_call(q, _STAT_EDGE_HEAD, pos)
        if found is None:
            break
        m, b0, b1 = found
        fn = m.group(1).lower()
        args = _split_top_args(q[b0:b1])
        if len(args) != 2:
            pos = b0
            continue
        a, b = (s.strip() for s in args)
        if _has_nondeterministic_call(a) or _has_nondeterministic_call(b):
            pos = b1
            continue
        over, end = _trailing_over(q, b1 + 1)
        if fn == "corr":
            # the component stddevs must see the PAIRWISE row set
            # (covar_pop skips a pair when either side is NULL;
            # stddev_pop alone would skip only its own column's NULLs
            # — misaligned NULLs would silently shift the correlation,
            # caught by the round-13 randomized sweep)
            ax = f"IF(({b}) IS NULL, NULL, {a})"
            bx = f"IF(({a}) IS NULL, NULL, {b})"
            r = (
                f"(covar_pop({a}, {b}){over}"
                f" / nullif(stddev_pop({ax}){over}"
                f" * stddev_pop({bx}){over}, 0.0D))"
            )
        else:
            r = f"{fn}({a}, {b}){over}"
        repl = (
            f"IF({_FINITE_GUARD_TOKEN_NAN}({r})"
            f" OR abs({r}) = CAST('Infinity' AS DOUBLE), NULL, {r})"
        )
        q = q[: m.start()] + repl + q[end:]
        pos = m.start() + len(repl)
    return q.replace(_FINITE_GUARD_TOKEN_NAN, "isnan")


def _rewrite_minmax_n(q: str) -> str:
    """Trino's 2-arg ``min(x, n)`` / ``max(x, n)``: the n smallest /
    largest values as an ARRAY (Spark's min/max are strictly 1-arg, so
    the call died with a confusing arity error).  Respelled as
    ``slice(array_sort(collect_list(x)), 1, n)`` (reversed for max) —
    NULLs drop (collect_list skips them, matching the aggregates'
    NULL-ignoring contract) and the same expression works as a window
    aggregate.  Caveat (same class as reduce_agg's documented cap):
    the emulation buffers the whole group before sorting where Trino
    keeps only n values in state — fine for the report-sized groups
    the form is used on, a memory hazard on unbounded ones."""
    start = 0
    while True:
        hit = _find_call(q, _MINMAX_N_HEAD, start)
        if hit is None:
            return q
        m, b0, b1 = hit
        args = [a.strip() for a in _split_top_args(q[b0:b1])]
        if len(args) != 2:
            start = b1  # plain 1-arg min/max: untouched
            continue
        fn = m.group(1).lower()
        e, n = args
        # a window form hangs its OVER (...) off the call: the clause
        # must move INSIDE onto collect_list (slice of a window agg is
        # a plain projection; OVER after slice() is a parse error)
        end = b1 + 1
        om = re.match(r"\s*OVER\s*\(", q[end:], re.IGNORECASE)
        over = ""
        if om:
            mask = _code_mask(q)
            d, i = 1, end + om.end()
            while i < len(q) and d:
                if mask[i]:
                    if q[i] == "(":
                        d += 1
                    elif q[i] == ")":
                        d -= 1
                i += 1
            over = " " + q[end : i].strip()
            end = i
        inner = f"array_sort(collect_list({e}){over})"
        if fn == "max":
            inner = f"reverse({inner})"
        repl = f"slice({inner}, 1, {n})"
        q = q[: m.start()] + repl + q[end:]
        start = m.start() + len(repl)


_WIDTH_BUCKET_HEAD = re.compile(r"\bwidth_bucket\s*\(", re.IGNORECASE)


def _rewrite_width_bucket_bins(q: str) -> str:
    """Trino's 2-arg ``width_bucket(x, bins)``: the bucket number of x
    against an explicit sorted bin-boundary ARRAY — Spark's
    width_bucket is strictly the 4-arg equal-width form, so the call
    died on arity.  The bucket number is exactly the count of
    boundaries ≤ x (binary-search insertion point, 0 below the first
    boundary, size(bins) at-or-above the last):

        size(filter(bins, __wb -> __wb <= x))

    with a NULL guard reproducing RETURNS-NULL-ON-NULL-INPUT (filter
    would otherwise fold a NULL x to bucket 0).  The 4-arg equal-width
    form passes through — same semantics on both engines.  Trino's
    runtime validation (non-empty, ascending bins) is the caller's
    contract there and unchecked here, as documented."""
    start = 0
    while True:
        hit = _find_call(q, _WIDTH_BUCKET_HEAD, start)
        if hit is None:
            return q
        m, b0, b1 = hit
        args = [a.strip() for a in _split_top_args(q[b0:b1])]
        if len(args) == 4:
            start = b1  # equal-width form: Spark-native
            continue
        if len(args) != 2:
            raise TrinoCompatError(
                "width_bucket takes (x, bins) or (x, lo, hi, n)"
            )
        x, bins = args
        repl = (
            f"(CASE WHEN ({x}) IS NULL OR ({bins}) IS NULL THEN NULL "
            f"ELSE size(filter({bins}, __wb -> __wb <= ({x}))) END)"
        )
        q = q[: m.start()] + repl + q[b1 + 1 :]
        start = m.start() + len(repl)


_APPROX_PCT_HEAD = re.compile(r"\bapprox_percentile\s*\(", re.IGNORECASE)


def _rewrite_approx_percentile_weighted(q: str) -> str:
    """Trino ``approx_percentile(x, w, percentage[, accuracy])`` — the
    WEIGHTED forms (probe-caught, round 10): the plain rename
    (approx_percentile → percentile_approx, correct for the 1- and
    2-arg forms) hands Spark the weight as its PERCENTAGE and the
    percentage as its ACCURACY, so every Trino-valid weighted call
    died with a misleading type error.  Rewritten to Spark's EXACT
    ``percentile(x, percentage, w)``: the frequency argument is
    exactly Trino's per-row weight (the value counted w times), the
    percentage may be scalar or array on both sides, and an exact
    percentile satisfies any approximation accuracy, so the optional
    4th argument is dropped.  Runtime argument contracts stay loud on
    both engines (Spark requires an integral non-negative frequency;
    Trino a bigint weight ≥ 1).  2-arg forms fall through to the
    rename.

    **Scale wall (100 TB)**: Trino's weighted approx_percentile is a
    bounded-memory qdigest sketch; Spark's exact ``percentile`` keeps a
    per-group value→count map whose aggregation state grows with the
    number of DISTINCT values in the group — on a high-cardinality
    double measure over huge groups that is unbounded executor memory
    where Trino guarantees KB.  This exact rewrite is therefore the
    CORRECTNESS path (oracle-exact, right for the moderate-cardinality
    groups the SQL façade serves); the SCALE path is the engine's
    weighted qdigest kernel —
    ``functions.qdigest.weighted_qdigest_by`` + ``with_quantiles`` —
    which holds ≤ K centroids per group regardless of distinct-value
    count and merges per-partition partials (rank error ≤ 2·W/K,
    pinned by tests/test_qdigest.py on weighted inputs; the
    ``a21b_weighted_qdigest_rollup`` registry entry exercises it
    end-to-end, certified rows-only like a21 per the sketch
    contract)."""
    start = 0
    while True:
        hit = _find_call(q, _APPROX_PCT_HEAD, start)
        if hit is None:
            return q
        m, b0, b1 = hit
        args = [a.strip() for a in _split_top_args(q[b0:b1])]
        if len(args) <= 2:
            start = b1  # unweighted: the rename pass handles it
            continue
        if len(args) > 4:
            raise TrinoCompatError(
                "approx_percentile takes (x, percentage), "
                "(x, w, percentage) or (x, w, percentage, accuracy)"
            )
        x, w, p = args[0], args[1], args[2]
        repl = f"percentile({x}, {p}, {w})"
        q = q[: m.start()] + repl + q[b1 + 1 :]
        start = m.start() + len(repl)


_MAP_CONCAT_HEAD = re.compile(r"\bmap_concat\s*\(", re.IGNORECASE)
_MAP_CONCAT_TOKEN = "__map_concat_strict__"


def _rewrite_map_concat(q: str) -> str:
    """Trino ``map_concat(m1, ..., mN)``: the union of the maps with
    the LAST map's value winning every duplicate key — Spark's
    map_concat THROWS on duplicates under the default
    ``spark.sql.mapKeyDedupPolicy=EXCEPTION``, so a Trino-valid
    overlap crashed (probe-caught, round 10).  Rewritten as a left
    fold that filters each accumulated key set down to keys the next
    map does NOT carry before concatenating:

        map_concat(map_filter(acc, (k, v) ->
            NOT coalesce(map_contains_key(m_next, k), false)), m_next)

    so no duplicate key ever reaches Spark's map_concat and the last
    value wins by construction.  Flipping the global dedup policy to
    LAST_WIN instead would also silence Spark's duplicate-key error in
    map()/map_from_entries — where Trino THROWS too — trading a crash
    for a silent divergence; the per-call rewrite keeps both
    contracts.  NULL propagation is preserved: a NULL argument makes
    map_contains_key NULL → coalesce false → entries pass through,
    and the outer map_concat(·, NULL) still returns NULL, matching
    Trino's RETURNS-NULL-ON-NULL-INPUT."""
    while True:
        hit = _find_call(q, _MAP_CONCAT_HEAD)
        if hit is None:
            break
        m, b0, b1 = hit
        args = [a.strip() for a in _split_top_args(q[b0:b1])]
        if len(args) < 2:
            raise TrinoCompatError(
                "map_concat() requires at least two input maps"
            )
        acc = args[0]
        for nxt in args[1:]:
            acc = (
                f"{_MAP_CONCAT_TOKEN}(map_filter({acc}, (__mck, __mcv) ->"
                f" NOT coalesce(map_contains_key({nxt}, __mck), false)),"
                f" {nxt})"
            )
        q = q[: m.start()] + acc + q[b1 + 1 :]
    return q.replace(_MAP_CONCAT_TOKEN, "map_concat")


_MAP_UNION_HEAD = re.compile(r"\bmap_union\s*\(", re.IGNORECASE)


def _rewrite_entropy(q: str) -> str:
    """Trino ``entropy(c)`` — log-2 Shannon entropy of per-row bigint
    counts — as two same-shuffle aggregates: with s = Σc,
    -Σ (c/s)·log2(c/s) = log2(s) - (Σ c·log2(c)) / s.  Zero counts
    contribute 0 (the x→0 limit of x·log2 x, Trino's behavior); an
    all-zero/empty group has no defined entropy and yields NULL here
    (Trino returns 0 — divergence documented rather than special-cased,
    since the closed form keeps the whole aggregation in one partial+
    final pass instead of collecting counts)."""
    start = 0
    while True:
        found = _find_call(q, _ENTROPY_HEAD, start)
        if found is None:
            return q
        m, bs, be = found
        arg = q[bs:be].strip()
        repl = (
            f"(log2(sum({arg})) - sum(CASE WHEN ({arg}) > 0 THEN"
            f" ({arg}) * log2({arg}) ELSE 0.0D END) / sum({arg}))"
        )
        q = q[: m.start()] + repl + q[be + 1 :]
        start = m.start() + len(repl)


def _rewrite_map_union(q: str) -> str:
    """Trino ``map_union(m)`` aggregate: union of the group's maps,
    first-collected value winning a duplicate key (Trino's pick is
    explicitly arbitrary).  Composed from collect_list(map_entries) +
    higher-order dedup — the two identical collect_list subtrees
    deduplicate in the aggregation, and group state is map-sized by
    construction (maps in, one map out)."""
    start = 0
    while True:
        found = _find_call(q, _MAP_UNION_HEAD, start)
        if found is None:
            return q
        m, bs, be = found
        arg = q[bs:be].strip()
        ent = f"flatten(collect_list(map_entries({arg})))"
        repl = (
            f"map_from_entries(transform(array_distinct(transform({ent},"
            f" __e -> __e.key)), __k -> struct(__k, filter({ent},"
            f" __e -> __e.key = __k)[0].value)))"
        )
        q = q[: m.start()] + repl + q[be + 1 :]
        start = m.start() + len(repl)


_REDUCE_AGG_HEAD = re.compile(r"\breduce_agg\s*\(", re.IGNORECASE)

#: reduce_agg's emulation buffers each group's values in one task
#: (collect_list) — fine for the aggregate-sized groups reduce_agg is
#: used on, a memory hazard on unbounded ones, so groups larger than
#: this raise at runtime instead of spilling or OOMing silently
_REDUCE_AGG_MAX_GROUP = 10_000


def _rewrite_reduce_agg(q: str) -> str:
    """Trino ``reduce_agg(input, initState, inputFn, combineFn)`` → a
    size-capped fold: ``aggregate(collect_list(input), initState,
    inputFn)``.  Spark SQL has no aggregate lambdas, but Trino's
    contract requires inputFn/combineFn to form a commutative monoid
    (docs: "the state type must be boolean, integer, floating-point …
    order of inputs is not guaranteed"), and for such reductions one
    sequential left-fold over the collected group IS a valid schedule —
    combineFn is semantically redundant (folding elements one-by-one
    never needs to merge two partial states), so it is validated for
    arity and dropped.  The fold buffers the group in one task, so a
    runtime guard raises loudly past ``_REDUCE_AGG_MAX_GROUP`` non-null
    values per group — the CASE picks the raise_error branch only for
    oversized groups (Spark evaluates CASE branches lazily per row).
    Known limit: DECIMAL states don't stabilize (decimal arithmetic
    grows precision every step, so the fold's return type can never
    equal the state type — Spark's native aggregate() HOF has the same
    constraint, and Trino's own reduce_agg examples use double literals
    like 0.0E0); write the init as DOUBLE for fractional folds.
    Reference surface: client.go:501-617 passes reduce_agg SQL through
    to Trino's function library verbatim."""
    start = 0
    while True:
        found = _find_call(q, _REDUCE_AGG_HEAD, start)
        if found is None:
            return q
        m, bs, be = found
        args = _split_top_args(q[bs:be])
        if len(args) != 4:
            raise TrinoCompatError(
                "reduce_agg requires exactly (input, initialState, "
                "inputFunction, combineFunction)"
            )
        x, init, input_fn = args[0], args[1], args[2]
        if re.match(r"(?i)DISTINCT\b", x):
            raise TrinoCompatError("reduce_agg(DISTINCT ...) is not supported")
        # Spark's aggregate() HOF requires the lambda's return type to
        # EQUAL the init type (no implicit widening), while Trino happily
        # folds `reduce_agg(bigint_col, 0, (s,v) -> s+v, ...)` — the int
        # literal state widens.  element_at(array(init, <an element>), 1)
        # evaluates to init AT the common type of (init, element), which
        # is what the lambda's arithmetic will produce; a no-op when the
        # types already agree.  try_element_at: an all-null group has an
        # empty list (ANSI element_at would throw) — only the TYPE of
        # that operand matters, its null value is never folded.
        widened_init = (
            f"element_at(array(({init}), "
            f"try_element_at(collect_list({x}), 1)), 1)"
        )
        repl = (
            f"CASE WHEN count({x}) > {_REDUCE_AGG_MAX_GROUP} THEN "
            f"raise_error('reduce_agg: a group exceeded "
            f"{_REDUCE_AGG_MAX_GROUP} non-null values; the fold buffers "
            f"whole groups in one task. Rewrite with built-in aggregates "
            f"(sum/min/max/bool_and/...) for large groups') "
            f"ELSE aggregate(collect_list({x}), {widened_init}, "
            f"{input_fn}) END"
        )
        q = q[: m.start()] + repl + q[be + 1 :]
        start = m.start() + len(repl)


#: `U&'...'` unicode string literals (standard SQL, Trino-supported)
#: with an optional `UESCAPE 'c'` suffix.  Spark has no unicode-literal
#: grammar, so the code points are decoded at translate time into a
#: plain literal: `\XXXX` (4 hex digits), `\+XXXXXX` (6 hex digits),
#: and a doubled escape char for the escape char itself.
_U_AMP_LIT = re.compile(r"\bU&(?=')", re.IGNORECASE)
_UESCAPE_TAIL = re.compile(r"\s+UESCAPE\s+'(?P<esc>[^'])'", re.IGNORECASE)


def _decode_unicode_literal(body: str, esc: str) -> str:
    out: List[str] = []
    k, n = 0, len(body)
    while k < n:
        c = body[k]
        if c == "'" and k + 1 < n and body[k + 1] == "'":
            out.append("'")
            k += 2
        elif c == esc:
            if body[k + 1 : k + 2] == esc:
                out.append(esc)
                k += 2
            elif body[k + 1 : k + 2] == "+":
                hexs = body[k + 2 : k + 8]
                if len(hexs) < 6:
                    raise TrinoCompatError(
                        f"U&'...': truncated 6-digit escape {esc}+{hexs!r}"
                    )
                out.append(chr(int(hexs, 16)))
                k += 8
            else:
                hexs = body[k + 1 : k + 5]
                if len(hexs) < 4:
                    raise TrinoCompatError(
                        f"U&'...': truncated 4-digit escape {esc}{hexs!r}"
                    )
                cp = int(hexs, 16)
                if 0xD800 <= cp <= 0xDBFF:
                    # UTF-16 surrogate pair: the standard spells non-BMP
                    # chars as two 4-digit escapes — combine them (a lone
                    # surrogate would mangle on UTF-8 encoding to the JVM)
                    lo_esc = body[k + 5 : k + 6]
                    lo_hex = body[k + 6 : k + 10]
                    if lo_esc != esc or len(lo_hex) < 4:
                        raise TrinoCompatError(
                            f"U&'...': high surrogate {esc}{hexs} not "
                            "followed by a low-surrogate escape"
                        )
                    lo = int(lo_hex, 16)
                    if not 0xDC00 <= lo <= 0xDFFF:
                        raise TrinoCompatError(
                            f"U&'...': {esc}{hexs} must pair with a low "
                            f"surrogate, got {esc}{lo_hex}"
                        )
                    out.append(
                        chr(0x10000 + ((cp - 0xD800) << 10) + (lo - 0xDC00))
                    )
                    k += 10
                    continue
                if 0xDC00 <= cp <= 0xDFFF:
                    raise TrinoCompatError(
                        f"U&'...': lone low surrogate {esc}{hexs}"
                    )
                out.append(chr(cp))
                k += 5
        else:
            out.append(c)
            k += 1
    return "".join(out)


_UESCAPE_AFTER_WS = re.compile(r"\s*UESCAPE\s*", re.IGNORECASE)


def _respell_escape_free_literals(q: str) -> str:
    """Trino string literals are escape-free (SQL standard): ``''`` is
    the only escape and a backslash is an ordinary character, while
    Spark's default lexer processes backslash escapes inside literals
    (Trino's ``'\\d'`` reaches Spark as ``d``).  Running FIRST — before
    every other pass — this re-spells each plain single-quoted literal
    by doubling its backslashes, so the Spark-side string VALUE is
    byte-identical to the Trino-side reading and every later pass (all
    written against Spark lexing) sees correctly-escaped text.  Closes
    the long-documented regex/LIKE-ESCAPE divergence (``rlike(s,
    '\\d+')``, ``LIKE 'a\\%' ESCAPE '\\'`` now run verbatim).

    Skipped: ``U&'…'`` literals and their ``UESCAPE '.'`` clause (the
    backslash there is a DECODE-time escape; _rewrite_unicode_literals
    re-emits Spark-escaped output itself), comments, double-quoted /
    backtick identifiers.

    Loud errors — both are syntax errors in Trino too, and both are
    shapes Spark's backslash lexing can read DIFFERENTLY (an
    apostrophe-adjacent backslash shifts every literal boundary after
    it): an unterminated literal, and a statement separator ``;``
    followed by more code.  The read-only gate lexes with Spark rules,
    so a ``;`` that Trino lexing exposes mid-statement must not reach
    the engine.

    Reference parity: the reference passes query text verbatim to
    Trino (client.go:501-617), so Trino lexing is the contract.
    """
    out: List[str] = []
    i, n = 0, len(q)
    saw_semi = False

    def scan_literal(j: int) -> int:
        """``j`` is just past the opening quote; index of the closing
        quote (the first un-doubled ``'`` — no backslash rule)."""
        while j < n:
            if q[j] == "'":
                if j + 1 < n and q[j + 1] == "'":
                    j += 2
                    continue
                return j
            j += 1
        raise TrinoCompatError(
            "unterminated string literal under Trino lexing (backslash "
            "is not an escape in Trino literals; use '' for a quote)"
        )

    def statement_break() -> None:
        raise TrinoCompatError(
            "multiple SQL statements in one query (code after ';')"
        )

    while i < n:
        c = q[i]
        if c == "-" and q[i : i + 2] == "--":
            k = q.find("\n", i)
            k = n if k < 0 else k + 1
            out.append(q[i:k])
            i = k
        elif c == "/" and q[i : i + 2] == "/*":
            k = q.find("*/", i + 2)
            k = n if k < 0 else k + 2
            out.append(q[i:k])
            i = k
        elif c == '"' or c == "`":
            if saw_semi:
                statement_break()
            j = i + 1
            while j < n:
                if q[j] == c:
                    if j + 1 < n and q[j + 1] == c:
                        j += 2
                        continue
                    j += 1
                    break
                j += 1
            else:
                j = n
            out.append(q[i:j])
            i = j
        elif c == "'":
            if saw_semi:
                statement_break()
            is_uamp = i >= 2 and q[i - 2 : i].upper() == "U&" and (
                i == 2 or not (q[i - 3].isalnum() or q[i - 3] in "_$")
            )
            j = scan_literal(i + 1)
            if is_uamp:
                out.append(q[i : j + 1])
                i = j + 1
                m = _UESCAPE_AFTER_WS.match(q, i)
                if m and m.end() < n and q[m.end()] == "'":
                    j2 = scan_literal(m.end() + 1)
                    out.append(q[i : j2 + 1])
                    i = j2 + 1
            else:
                body = q[i + 1 : j]
                out.append("'" + body.replace("\\", "\\\\") + "'")
                i = j + 1
        else:
            if c == ";":
                saw_semi = True
            elif saw_semi and c not in " \t\r\n":
                statement_break()
            out.append(c)
            i += 1
    return "".join(out)


def _rewrite_unicode_literals(q: str) -> str:
    """Decode `U&'...'` [UESCAPE 'c'] into a plain Spark literal.

    Runs FIRST in translate() so every later pass (and the code mask)
    sees an ordinary string literal.  The literal body is scanned with
    the same lexical rules as ``_segments`` (doubled quotes continue
    the literal); the decoded text is re-escaped for Spark's lexer
    (backslashes doubled, quotes as ``''``)."""
    while True:
        mask = _code_mask(q)
        m = next((c for c in _U_AMP_LIT.finditer(q) if mask[c.start()]), None)
        if m is None:
            return q
        # SQL lexing for U&'...': the literal ends at the first
        # un-doubled quote, full stop — the escape character (default
        # backslash, or whatever UESCAPE declares) is a DECODE-time
        # concept and never extends the literal.  A backslash-skip here
        # would swallow the closing quote of U&'a\' UESCAPE '#'.
        j, n = m.end() + 1, len(q)
        while j < n:
            if q[j] == "'":
                if j + 1 < n and q[j + 1] == "'":
                    j += 2
                    continue
                break
            j += 1
        if j >= n:
            raise TrinoCompatError("unterminated U&'...' literal")
        body = q[m.end() + 1 : j]
        end = j + 1
        esc = "\\"
        tail = _UESCAPE_TAIL.match(q, end)
        if tail:
            esc = tail.group("esc")
            end = tail.end()
        try:
            decoded = _decode_unicode_literal(body, esc)
        except ValueError as exc:  # int(hexs, 16) on non-hex digits
            raise TrinoCompatError(f"U&'...': bad unicode escape ({exc})")
        relit = decoded.replace("\\", "\\\\").replace("'", "''")
        q = q[: m.start()] + f"'{relit}'" + q[end:]


_LEAST_GREATEST_HEAD = re.compile(r"\b(least|greatest)\s*\(", re.IGNORECASE)


def _rewrite_least_greatest_nulls(q: str, column_types: Optional[dict] = None) -> str:
    """Trino ``least``/``greatest`` return NULL when ANY argument is
    NULL; Spark's skip NULLs and return the extreme of the non-null
    arguments — a silent value divergence on every nullable input.
    The rewrite wraps the call in an any-argument-null guard:

        least(a, b) -> (CASE WHEN a IS NULL OR b IS NULL THEN NULL
                        ELSE least(a, b) END)

    Trino additionally returns NaN when any argument is NaN (the
    round-13 probe catch: Spark orders NaN LARGEST, so its least()
    silently skips a NaN argument — least(NaN, 1.0) was 1.0 where
    Trino says NaN; greatest agrees by accident of the same ordering).
    The NaN branch is emitted only when EVERY argument is a lexically-
    knowable double (the x47 contract — an unconditional isnan would
    ANSI-error on string/date arguments); it sits after the NULL guard
    (argument null-checks precede comparison in Trino).

    Runs EARLY — before every pass that emits least/greatest of its
    own with Spark's skip-NULL semantics ON PURPOSE (the window
    EXCLUDE split combines sub-frame min/max with least/greatest
    exactly because they skip the empty side's NULL; the comma-UNNEST
    zip pads with greatest(size(..))) — generated text never re-enters
    this pass.  Single-argument calls are left alone (same semantics
    both engines).
    """
    types = {
        str(k).lower(): str(v).lower() for k, v in (column_types or {}).items()
    }
    pos = 0
    while True:
        found = _find_call(q, _LEAST_GREATEST_HEAD, pos)
        if found is None:
            return q
        m, bs, be = found
        fn = m.group(1).lower()
        raw_args = _split_top_args(q[bs:be])
        if len(raw_args) < 2:
            pos = be
            continue
        # recurse into the arguments FIRST (they get duplicated into
        # guard + call; the emitted plain `ELSE fn(...)` head must then
        # be skipped whole, or the loop would rewrap it forever)
        args = [
            _rewrite_least_greatest_nulls(a.strip(), column_types)
            for a in raw_args
        ]
        guard = " OR ".join(f"({a}) IS NULL" for a in args)
        nan_arm = ""
        if fn == "least" and all(
            _operand_fp_kind(a, types) == "double" for a in args
        ):
            nan_guard = " OR ".join(f"isnan({a})" for a in args)
            nan_arm = f" WHEN {nan_guard} THEN CAST('NaN' AS DOUBLE)"
        inner = ", ".join(args)
        repl = (
            f"(CASE WHEN {guard} THEN NULL{nan_arm}"
            f" ELSE {fn}({inner}) END)"
        )
        q = q[: m.start()] + repl + q[be + 1 :]
        pos = m.start() + len(repl)


#: literal-integer division: Trino's `/` on integers TRUNCATES toward
#: zero (5/2 = 2); Spark's `/` is always fractional.  Operand types are
#: not lexically knowable in general — the literal/literal case (the
#: common gotcha) is closed here with Spark's `div`; the COLUMN-typed
#: case is closed by the schema-aware pass below when the façade can
#: supply catalog types (x47); only lexically-untypable expressions
#: (function results, subquery outputs, ambiguous names) remain a
#: DOCUMENTED divergence (module header).
_INT_LIT_DIV = re.compile(r"(?<![\w.])(\d+)\s*/\s*(\d+)(?![\w.])")


def _rewrite_int_literal_division(q: str) -> str:
    while True:
        mask = _code_mask(q)
        m = next((c for c in _INT_LIT_DIV.finditer(q) if mask[c.start()]), None)
        if m is None:
            return q
        q = f"{q[: m.start()]}({m.group(1)} div {m.group(2)}){q[m.end():]}"


#: COLUMN-typed integer division (round 11, VERDICT r10 item 3): for
#: `a / b` where both operands are plain column references against
#: registered tables (or integer literals, or CASTs to an integral
#: type), the catalog schema DOES make the types knowable — the façade
#: passes a column→type map and this pass rewrites integer/integer to
#: Spark's `div` exactly like the literal pass.  `div` truncates toward
#: zero and raises on /0 under ANSI mode, both matching Trino.  The
#: residue stays documented: expressions whose type is not lexically
#: resolvable (function results, subquery outputs, ambiguous column
#: names appearing with different types in several tables).

_INTEGRAL_TYPES = frozenset(
    {"tinyint", "smallint", "int", "integer", "bigint", "long", "byte", "short"}
)

#: cheap façade gate: a '/' adjacent to an identifier or paren — only
#: then is the catalog column-type map worth building
_IDENT_DIV_HINT = re.compile(r"[A-Za-z_)\s]/|/[\sA-Za-z_(]")

_IDENT_CHAIN = re.compile(r"[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*")

_NONCALL_BEFORE_PAREN = frozenset(
    {"select", "where", "when", "then", "else", "and", "or", "not", "on",
     "by", "from", "having", "case", "end", "as", "union", "all",
     "distinct", "between", "like", "is", "return", "returns"}
)


def has_identifier_division(q: str) -> bool:
    return _IDENT_DIV_HINT.search(q) is not None


#: façade gate for the OTHER schema-aware passes (round-11): a 2-arg
#: round, a CAST to an integral type, or a subscript can each consume
#: the catalog column-type map — everything else skips the catalog RPCs
_NEEDS_TYPES_HINT = re.compile(
    r"(?is)\bround\s*\(|\[|\bavg\s*\(|"
    r"\bAS\s+(?:TINYINT|SMALLINT|INT|INTEGER|BIGINT|VARCHAR|STRING)\b"
)


def needs_column_types(q: str) -> bool:
    """True when translate() could use the catalog column-type map:
    identifier division (x47), Trino-rounding CAST/round (r11), or a
    subscript negativity guard (r11)."""
    return has_identifier_division(q) or _NEEDS_TYPES_HINT.search(q) is not None


def _top_level_contains_div(expr: str) -> bool:
    """True when a parenthesized operand's top-level content carries a
    `div` — the output type of `div` is always integral, so groups this
    translator produced (literal pass, or an earlier iteration of this
    pass on a chain like a/b/c) stay rewritable."""
    inner = expr[1:-1]
    depth = 0
    for m in re.finditer(r"[()]|\bdiv\b", inner, re.IGNORECASE):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            return True
    return False


def _operand_integral(expr: str, types: dict) -> bool:
    e = expr.strip()
    if not e:
        return False
    if re.fullmatch(r"\d+", e):
        return True
    if e.startswith("(") and e.endswith(")"):
        return _top_level_contains_div(e)
    m = re.fullmatch(r"(?is)CAST\s*\((.*)\)", e)
    if m:
        # last top-level AS gives the target type
        body = m.group(1)
        depth, as_pos = 0, None
        for am in re.finditer(r"[()]|\bAS\b", body, re.IGNORECASE):
            if am.group(0) == "(":
                depth += 1
            elif am.group(0) == ")":
                depth -= 1
            elif depth == 0:
                as_pos = am.end()
        if as_pos is None:
            return False
        target = body[as_pos:].strip().split("(")[0].strip().lower()
        return target in _INTEGRAL_TYPES
    if _IDENT_CHAIN.fullmatch(e):
        col = e.rsplit(".", 1)[-1].lower()
        return types.get(col) in _INTEGRAL_TYPES
    return False


def _scan_left_operand(q: str, pos: int) -> Optional[int]:
    """Start index of the operand ending just before ``pos`` (exclusive
    of trailing spaces), or None when it isn't a supported form."""
    i = pos - 1
    while i >= 0 and q[i].isspace():
        i -= 1
    if i < 0:
        return None
    if q[i] == ")":
        depth = 0
        j = i
        while j >= 0:
            if q[j] == ")":
                depth += 1
            elif q[j] == "(":
                depth -= 1
                if depth == 0:
                    break
            j -= 1
        if j < 0:
            return None
        # a preceding identifier makes it a call — only CAST qualifies
        k = j - 1
        while k >= 0 and q[k].isspace():
            k -= 1
        end_word = k + 1
        while k >= 0 and (q[k].isalnum() or q[k] == "_"):
            k -= 1
        word = q[k + 1 : end_word]
        if word:
            if word.lower() == "cast":
                return k + 1
            # keywords that can lexically precede '(' without making
            # it a call — the group is then a plain parenthesized
            # operand (matters for chains: `a/b/c` re-enters with
            # `SELECT (a div b) / c`)
            if word.lower() in _NONCALL_BEFORE_PAREN:
                return j
            return None
        return j
    if q[i].isalnum() or q[i] == "_":
        j = i
        while j >= 0 and (q[j].isalnum() or q[j] in "_."):
            j -= 1
        # a '.' immediately before means a qualified chain we've fully
        # consumed; a preceding ':' (e.g. array slice) is not SQL here
        return j + 1
    return None


def _scan_right_operand(q: str, pos: int) -> Optional[int]:
    """End index (exclusive) of the operand starting after ``pos``."""
    n = len(q)
    i = pos + 1
    while i < n and q[i].isspace():
        i += 1
    if i >= n:
        return None

    def match_group(start: int) -> Optional[int]:
        depth = 0
        j = start
        while j < n:
            if q[j] == "(":
                depth += 1
            elif q[j] == ")":
                depth -= 1
                if depth == 0:
                    return j + 1
            j += 1
        return None

    if q[i] == "(":
        return match_group(i)
    if q[i].isalnum() or q[i] == "_":
        j = i
        while j < n and (q[j].isalnum() or q[j] in "_."):
            j += 1
        k = j
        while k < n and q[k].isspace():
            k += 1
        if k < n and q[k] == "(":
            word = q[i:j]
            return match_group(k) if word.lower() == "cast" else None
        return j
    return None


def _rewrite_column_int_division(q: str, column_types: dict) -> str:
    types = {str(k).lower(): str(v).lower() for k, v in column_types.items()}
    start = 0
    while True:
        mask = _code_mask(q)
        pos = q.find("/", start)
        if pos < 0:
            return q
        if not mask[pos] or (pos + 1 < len(q) and q[pos + 1] in "*/") or (
            pos > 0 and q[pos - 1] in "*/"
        ):
            start = pos + 1
            continue
        lo = _scan_left_operand(q, pos)
        hi = _scan_right_operand(q, pos)
        if lo is None or hi is None:
            start = pos + 1
            continue
        left, right = q[lo:pos].rstrip(), q[pos + 1 : hi].lstrip()
        if not (
            _operand_integral(left, types) and _operand_integral(right, types)
        ):
            start = pos + 1
            continue
        repl = f"({left} div {right})"
        q = q[:lo] + repl + q[hi:]
        start = lo + len(repl)


#: lexically double-typed literal forms: E-notation and the DOUBLE/REAL
#: typed-literal constructors (bare `2.5` is DECIMAL in both engines)
_DOUBLE_LITERAL = re.compile(r"-?\d+(?:\.\d+)?[eE][+-]?\d+")
_TYPED_FP_LITERAL = re.compile(r"(?is)(DOUBLE|REAL)\s+'[^']*'")
_DECIMAL_LITERAL_FORM = re.compile(r"-?\d+\.\d+")
_TYPED_DEC_LITERAL = re.compile(r"(?is)DECIMAL\s+'[^']*'")
_FP_COLUMN_TYPES = frozenset({"double", "float", "real"})

#: functions that return DOUBLE for every argument type in BOTH
#: engines — a call to one of these is a lexically-knowable double
#: operand even though its arguments are not.  Deliberately excludes
#: anything type-polymorphic (avg/sum return decimal on decimal input,
#: abs/round preserve their argument type).
_ALWAYS_DOUBLE_FNS = frozenset({
    "ln", "log", "log2", "log10", "exp", "sqrt", "cbrt", "power", "pow",
    "sin", "cos", "tan", "asin", "acos", "atan", "atan2", "sinh", "cosh",
    # rand/random deliberately absent: the guard rewrites DUPLICATE
    # the operand, and a nondeterministic operand must evaluate once
    "tanh", "asinh", "acosh", "atanh", "radians", "degrees", "pi", "e",
    "infinity", "nan", "cosine_similarity",
    "dot_product", "l2_norm", "stddev", "stddev_pop", "stddev_samp",
    "variance", "var_pop", "var_samp", "corr", "covar_pop", "covar_samp",
    "skewness", "kurtosis", "geometric_mean",
})
_DOUBLE_FN_HEAD = re.compile(r"(?is)\s*([A-Za-z_][A-Za-z0-9_]*)\s*\(")

#: nondeterministic calls: the rounding/cast guard rewrites DUPLICATE
#: their operand text per branch, so each copy would evaluate
#: independently and mix draws within one row (ADVICE r11) — any
#: expression containing one is skipped (documented residue, same
#: class as the _ALWAYS_DOUBLE_FNS rand exclusion)
_NONDETERMINISTIC_CALL = re.compile(
    r"(?i)\b(rand|randn|random|uuid|shuffle|monotonically_increasing_id)"
    r"\s*\("
)


def _has_nondeterministic_call(e: str) -> bool:
    mask = _code_mask(e)
    return any(mask[m.start()] for m in _NONDETERMINISTIC_CALL.finditer(e))


def _whole_call_name(e: str) -> Optional[str]:
    """Lowercased function name when ``e`` is exactly one call
    ``name( ... )`` whose opening paren closes at the end of the text
    — a balanced scan, so ``f(a) * g(b)`` is correctly rejected."""
    m = _DOUBLE_FN_HEAD.match(e)
    if m is None:
        return None
    mask = _code_mask(e)
    depth = 0
    for i in range(m.end() - 1, len(e)):
        if not mask[i]:
            continue
        if e[i] == "(":
            depth += 1
        elif e[i] == ")":
            depth -= 1
            if depth == 0:
                return m.group(1).lower() if not e[i + 1 :].strip() else None
    return None


def _cast_target_of(expr: str) -> Optional[str]:
    """Lowercased base name of the target type when ``expr`` is a whole
    CAST/TRY_CAST call, else None (mirrors _operand_integral's scan)."""
    m = re.fullmatch(r"(?is)(?:CAST|TRY_CAST)\s*\((.*)\)", expr.strip())
    if not m:
        return None
    body = m.group(1)
    depth, as_pos = 0, None
    for am in re.finditer(r"[()]|\bAS\b", body, re.IGNORECASE):
        if am.group(0) == "(":
            depth += 1
        elif am.group(0) == ")":
            depth -= 1
        elif depth == 0:
            as_pos = am.end()
    if as_pos is None:
        return None
    return body[as_pos:].strip().split("(")[0].strip().lower()


def _operand_fp_kind(expr: str, types: dict) -> Optional[str]:
    """``'double'`` / ``'decimal'`` when the operand's type is lexically
    knowable (same contract as _operand_integral: literals, CAST
    targets, plain column references against the catalog map), else
    None.  Used by the Trino-rounding passes below — rewrites happen
    only where the operand type is certain."""
    e = expr.strip()
    if not e:
        return None
    if _DOUBLE_LITERAL.fullmatch(e) or _TYPED_FP_LITERAL.fullmatch(e):
        return "double"
    if _DECIMAL_LITERAL_FORM.fullmatch(e) or _TYPED_DEC_LITERAL.fullmatch(e):
        return "decimal"
    if e.startswith("(") and e.endswith(")"):
        inner = e[1:-1].strip()
        # only a plain parenthesized operand — a top-level comma or
        # unbalanced inner parens would mean this was not one group
        if _balanced(inner):
            return _operand_fp_kind(inner, types)
        return None
    target = _cast_target_of(e)
    if target is not None:
        if target in ("double", "real", "float"):
            return "double"
        if target == "decimal":
            return "decimal"
        return None
    if _whole_call_name(e) in _ALWAYS_DOUBLE_FNS:
        return "double"
    if _IDENT_CHAIN.fullmatch(e):
        t = types.get(e.rsplit(".", 1)[-1].lower(), "")
        if t in _FP_COLUMN_TYPES:
            return "double"
        if t.startswith("decimal"):
            return "decimal"
    return None


def _balanced(s: str) -> bool:
    mask = _code_mask(s)
    depth = 0
    for i, ch in enumerate(s):
        if not mask[i]:
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                return False
    return depth == 0


#: integral type → (precision, 0) for the decimal type calculus
_INTEGRAL_DECIMAL_PARAMS = {
    "tinyint": (3, 0), "byte": (3, 0),
    "smallint": (5, 0), "short": (5, 0),
    "int": (10, 0), "integer": (10, 0),
    "bigint": (19, 0), "long": (19, 0),
}
_DECIMAL_TYPE_PARAMS = re.compile(r"(?is)decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)")


def _decimal_literal_params(int_digits: str, frac_digits: str):
    """Trino's literal typing (Decimals.parse): leading zeros in the
    integral part do NOT count toward precision — ``0.01`` is
    DECIMAL(2,2), not (3,2); ``0.1`` is DECIMAL(1,1).  Scale is the
    fractional digit count verbatim, so rounding passes are unaffected;
    only the emitted CAST precision mirrors Trino's declared type
    (ADVICE r14)."""
    ip = int_digits.lstrip("-").lstrip("0")
    frac = len(frac_digits)
    return (max(len(ip) + frac, frac, 1), frac)


def _operand_decimal_params(expr: str, types: dict):
    """``(precision, scale)`` when the operand's DECIMAL-calculus type
    is lexically knowable (decimal/integer literals, CAST targets,
    catalog columns — the x47 contract), else None.  Integral operands
    map to (p, 0); doubles/unknowables return None."""
    e = expr.strip()
    if not e:
        return None
    m = re.fullmatch(r"-?(\d+)\.(\d+)", e)
    if m:
        return _decimal_literal_params(m.group(1), m.group(2))
    m = re.fullmatch(r"-?(\d+)", e)
    if m:
        # Trino types an integer literal as INTEGER unless it needs 64 bits
        return (10, 0) if abs(int(e)) <= 2147483647 else (19, 0)
    m = re.fullmatch(r"(?is)DECIMAL\s+'(-?\d+)(?:\.(\d+))?'", e)
    if m:
        return _decimal_literal_params(m.group(1), m.group(2) or "")
    if e.startswith("(") and e.endswith(")"):
        inner = e[1:-1].strip()
        if _balanced(inner):
            return _operand_decimal_params(inner, types)
        return None
    target = _cast_target_of(e)
    if target is not None:
        if target in _INTEGRAL_DECIMAL_PARAMS:
            return _INTEGRAL_DECIMAL_PARAMS[target]
        if target == "decimal":
            # search the TARGET text only — a decimal(p,s) inside the
            # operand part must not shadow the outer cast's type
            # (avg(CAST(CAST(x AS DECIMAL(5,1)) + y AS DECIMAL(12,4))))
            tm = _DECIMAL_TYPE_PARAMS.search(_cast_target_text(e) or "")
            # unparameterized DECIMAL defaults differ (Trino (38,0),
            # Spark (10,0)) — stay out of that residue
            return (int(tm.group(1)), int(tm.group(2))) if tm else None
        return None
    if _IDENT_CHAIN.fullmatch(e):
        t = types.get(e.rsplit(".", 1)[-1].lower(), "")
        if t in _INTEGRAL_DECIMAL_PARAMS:
            return _INTEGRAL_DECIMAL_PARAMS[t]
        tm = _DECIMAL_TYPE_PARAMS.fullmatch(t)
        if tm:
            return (int(tm.group(1)), int(tm.group(2)))
    return None


def _rewrite_decimal_division(q: str, column_types: dict) -> str:
    """Trino's DECIMAL division keeps ``scale = max(s1, s2)`` and
    rounds the quotient HALF_UP (functions/decimal.md's documented
    type calculus: ``p = p1 + s2 + max(0, s2 - s1)``) — the famous
    ``DECIMAL '1.00' / DECIMAL '3.00' = 0.33`` — while Spark widens
    the result scale (decimal(10,2)/decimal(10,2) → decimal(23,13) =
    0.3333333333333): a silent VALUE divergence on every Trino-valid
    decimal division.  Where both operands' decimal-calculus types
    are knowable (at least one decimal, the other decimal or
    integral; doubles stay fractional and already agree), the
    division is wrapped in a CAST to Trino's result type — Spark's
    decimal→decimal cast rounds HALF_UP, reproducing Trino's
    rounding.

    Residue (documented): Spark computes the quotient at ITS widened
    scale first, so the wrap double-rounds — exact quotients lying
    within 5e-14 of a half-boundary can round differently (a
    measure-zero band vs. the always-different scale today);
    unparameterized ``CAST(x AS DECIMAL)`` operands are skipped
    (default precision differs: Trino (38,0), Spark (10,0)).

    Runs AFTER the integer-division passes (integer/integer is
    already ``div``; a ``(a div b)`` group is not a knowable decimal,
    so the two rewrites never overlap) — chains re-enter through the
    emitted CAST's decimal target.  Reference parity: Trino
    DecimalOperators division, text forwarded verbatim
    (internal/trino/client.go:284-291).
    """
    types = {str(k).lower(): str(v).lower() for k, v in column_types.items()}
    start = 0
    while True:
        mask = _code_mask(q)
        pos = q.find("/", start)
        if pos < 0:
            return q
        if not mask[pos] or (pos + 1 < len(q) and q[pos + 1] in "*/") or (
            pos > 0 and q[pos - 1] in "*/"
        ):
            start = pos + 1
            continue
        lo = _scan_left_operand(q, pos)
        hi = _scan_right_operand(q, pos)
        if lo is None or hi is None:
            start = pos + 1
            continue
        left, right = q[lo:pos].rstrip(), q[pos + 1 : hi].lstrip()
        pl = _operand_decimal_params(left, types)
        pr = _operand_decimal_params(right, types)
        if (
            pl is None
            or pr is None
            or (pl[1] == 0 and pr[1] == 0)  # integral/integral → x47's div
        ):
            start = pos + 1
            continue
        (p1, s1), (p2, s2) = pl, pr
        s = max(s1, s2)
        p = min(38, p1 + s2 + max(0, s2 - s1))
        repl = f"CAST(({left}) / ({right}) AS DECIMAL({p},{s}))"
        q = q[:lo] + repl + q[hi:]
        start = lo + len(repl)


_MOD_HEAD = re.compile(r"\bmod\s*\(", re.IGNORECASE)


def _scan_left_operand_loose(q: str, pos: int) -> Optional[int]:
    """_scan_left_operand plus arbitrary call forms (``nan() / x`` —
    the tight scanner admits only CAST calls): safe here because the
    x81 pass TYPE-gates operands afterwards (_operand_fp_kind knows
    exactly the call names that are always double)."""
    s = _scan_left_operand(q, pos)
    if s is not None:
        return s
    i = pos - 1
    while i >= 0 and q[i].isspace():
        i -= 1
    if i < 0 or q[i] != ")":
        return None
    depth, j = 0, i
    while j >= 0:
        if q[j] == ")":
            depth += 1
        elif q[j] == "(":
            depth -= 1
            if depth == 0:
                break
        j -= 1
    if j < 0:
        return None
    k = j - 1
    while k >= 0 and q[k].isspace():
        k -= 1
    end_word = k + 1
    while k >= 0 and (q[k].isalnum() or q[k] in "_."):
        k -= 1
    word = q[k + 1 : end_word]
    return k + 1 if word else None


def _scan_right_operand_loose(q: str, pos: int) -> Optional[int]:
    """_scan_right_operand plus unary sign (``x / -0.0E0``) and
    arbitrary call forms — same type-gated contract as the left
    scanner."""
    n = len(q)
    i = pos + 1
    while i < n and q[i].isspace():
        i += 1
    if i < n and q[i] in "+-":
        sub = _scan_right_operand_loose(q, i)
        return sub
    r = _scan_right_operand(q, pos)
    if r is not None:
        return r
    if i >= n or not (q[i].isalnum() or q[i] == "_"):
        return None
    j = i
    while j < n and (q[j].isalnum() or q[j] in "_."):
        j += 1
    k = j
    while k < n and q[k].isspace():
        k += 1
    if k < n and q[k] == "(":
        depth = 0
        while k < n:
            if q[k] == "(":
                depth += 1
            elif q[k] == ")":
                depth -= 1
                if depth == 0:
                    return k + 1
            k += 1
    return None


def _rewrite_double_div_mod_zero(q: str, column_types: dict) -> str:
    """x81: Trino's DOUBLE division and modulus are IEEE Java —
    ``5e0 / 0e0`` is Infinity, ``-5e0 / 0e0`` -Infinity, ``0e0/0e0``
    and ``mod(x, 0e0)`` NaN, with NO error — where Spark under ANSI
    throws DIVIDE_BY_ZERO / REMAINDER_BY_ZERO on the same valid Trino
    SQL (a hard-error divergence, worse than a silent value one;
    integer division by zero errors in BOTH engines and stays
    untouched).  Where an operand is knowably double (x47 contract —
    the result type is then double and Trino routes through
    DoubleOperators), the division gains a zero-divisor dispatch::

        IF(b = 0.0E0,
           CASE WHEN a = 0.0E0 OR isnan(a) THEN double('NaN')
                WHEN CAST(b AS STRING) LIKE '-%'
                     THEN double('-Infinity') * signum(a)
                ELSE double('Infinity') * signum(a) END,
           a / b)

    The string probe is the sign of a NEGATIVE ZERO divisor
    (``signum(-0.0)`` is 0, but Spark renders it '-0.0'): Java
    ``5/-0.0`` is -Infinity.  NULL operands propagate through signum /
    the else branch; modulus dispatches to NaN (NULL-preserving).
    Runs AFTER the try() expansion: try bodies are already try_*
    calls by then, so ``try(x / 0e0)`` keeps try_divide's NULL — a
    documented residue (Trino would evaluate the IEEE value with no
    error to suppress; fixing it requires the try shape-matcher to
    accept the IF dispatch).  Subquery and nondeterministic operands
    keep Spark semantics (operand duplication — the shared residue
    contract)."""
    types = {str(k).lower(): str(v).lower() for k, v in column_types.items()}

    def _qualify(left, right):
        if _is_subquery_operand(left) or _is_subquery_operand(right):
            return False
        if _has_nondeterministic_call(left) or _has_nondeterministic_call(
            right
        ):
            return False
        return "double" in (
            _operand_fp_kind(left, types), _operand_fp_kind(right, types)
        )

    def _div_form(a, b):
        return (
            f"IF(({b}) = 0.0E0,"
            f" CASE WHEN ({a}) = 0.0E0 OR isnan({a}) THEN double('NaN')"
            f" WHEN CAST(({b}) AS STRING) LIKE '-%'"
            f" THEN double('-Infinity') * signum({a})"
            f" ELSE double('Infinity') * signum({a}) END,"
            f" ({a}) / ({b}))"
        )

    def _mod_form(a, b):
        return (
            f"IF(({b}) = 0.0E0,"
            f" IF(({a}) IS NULL, CAST(NULL AS DOUBLE), double('NaN')),"
            f" ({a}) % ({b}))"
        )

    # operator scans: / then % (the decimal/int division passes ran
    # already and only touch non-double operands — disjoint by typing)
    for sym, form in (("/", _div_form), ("%", _mod_form)):
        start = 0
        while True:
            mask = _code_mask(q)
            pos = q.find(sym, start)
            if pos < 0:
                break
            if not mask[pos] or (
                sym == "/"
                and (
                    (pos + 1 < len(q) and q[pos + 1] in "*/")
                    or (pos > 0 and q[pos - 1] in "*/")
                )
            ):
                start = pos + 1
                continue
            lo = _scan_left_operand_loose(q, pos)
            hi = _scan_right_operand_loose(q, pos)
            if lo is None or hi is None:
                start = pos + 1
                continue
            left, right = q[lo:pos].rstrip(), q[pos + 1 : hi].lstrip()
            if not _qualify(left, right):
                start = pos + 1
                continue
            repl = form(left, right)
            q = q[:lo] + repl + q[hi:]
            start = lo + len(repl)
    # mod(a, b) function spelling
    start = 0
    while True:
        found = _find_call(q, _MOD_HEAD, start)
        if found is None:
            break
        m, b0, b1 = found
        args = _split_top_args(q[b0:b1])
        if len(args) != 2:
            start = m.end()
            continue
        a, b = args[0].strip(), args[1].strip()
        if not _qualify(a, b):
            start = b1 + 1
            continue
        repl = _mod_form(a, b)
        q = q[: m.start()] + repl + q[b1 + 1 :]
        start = m.start() + len(repl)
    return q


_XXHASH64_HEAD = re.compile(r"\bxxhash64\s*\(", re.IGNORECASE)


def _rewrite_xxhash64(q: str) -> str:
    """User-spelled ``xxhash64(x)`` → ``trino_xxhash64(x)``: Trino's
    function is standard XXH64 (seed 0) over the raw VARBINARY bytes
    returning VARBINARY, while Spark's builtin of the SAME NAME is a
    seed-42 hash of Spark's internal value format returning BIGINT —
    every digest silently differed.  A plain name swap (the UDF body
    carries the algorithm); ``\\b`` keeps the rewrite off its own
    output and off the checksum() generator's engine-local
    xxhash64, which runs after this pass."""
    segs = []
    for is_code, seg in _segments(q):
        if is_code:
            seg = _XXHASH64_HEAD.sub("trino_xxhash64(", seg)
        segs.append(seg)
    return "".join(segs)


def _operand_true_decimal_params(expr: str, types: dict):
    """``(precision, scale)`` when the operand is GENUINELY decimal-typed
    (decimal literals, parameterized DECIMAL cast targets, catalog
    decimal columns) — unlike ``_operand_decimal_params`` it returns
    None for integral operands: ``avg(integral)`` is DOUBLE in both
    engines and must stay untouched."""
    e = expr.strip()
    if not e:
        return None
    m = re.fullmatch(r"-?(\d+)\.(\d+)", e)
    if m:
        return _decimal_literal_params(m.group(1), m.group(2))
    m = re.fullmatch(r"(?is)DECIMAL\s+'(-?\d+)(?:\.(\d+))?'", e)
    if m:
        return _decimal_literal_params(m.group(1), m.group(2) or "")
    if e.startswith("(") and e.endswith(")") and _balanced(e[1:-1]):
        return _operand_true_decimal_params(e[1:-1].strip(), types)
    target = _cast_target_of(e)
    if target == "decimal":
        # search the TARGET text only, not the whole expression — a
        # decimal(p,s) in the operand part must not win over the outer
        # cast's declared type (ADVICE r14)
        tm = _DECIMAL_TYPE_PARAMS.search(_cast_target_text(e) or "")
        # unparameterized CAST(x AS DECIMAL) is rewritten to (38,0) by
        # _rewrite_bare_decimal BEFORE this pass, so tm is set for all
        # translator-visited casts; a raw bare DECIMAL stays residue
        return (int(tm.group(1)), int(tm.group(2))) if tm else None
    if target is not None:
        return None
    if _IDENT_CHAIN.fullmatch(e):
        tm = _DECIMAL_TYPE_PARAMS.fullmatch(
            types.get(e.rsplit(".", 1)[-1].lower(), "")
        )
        if tm:
            return (int(tm.group(1)), int(tm.group(2)))
    return None


_AVG_HEAD = re.compile(r"\bavg\s*\(", re.IGNORECASE)
_AVG_TRAILER = re.compile(r"(?is)(FILTER|OVER)\s*\(")


def _rewrite_decimal_avg(q: str, column_types: dict) -> str:
    """Trino ``avg(DECIMAL(p, s))`` returns ``DECIMAL(p, s)`` rounded
    HALF_UP at the INPUT scale (DecimalAverageAggregation) where Spark
    widens the result to ``decimal(p+4, s+4)`` — a silent VALUE
    divergence on every Trino-valid decimal average: ``avg`` of
    {0.01, 0.02} at (10,2) is 0.02 in Trino, 0.015000 here.  Where the
    operand's decimal type is lexically or catalog knowable (the x47
    contract), the call — including trailing FILTER/OVER clauses — is
    wrapped in a CAST to the operand type; Spark's decimal→decimal
    cast rounds HALF_UP, reproducing Trino's rounding.  Integral and
    double operands already agree (DOUBLE out of both engines) and
    unknowable operands keep Spark's widened type as documented
    residue.

    Exactness (r15, VERDICT r14 #4): the original CAST-of-avg wrap
    DOUBLE-ROUNDED — Spark computes the mean at its widened (s+4)
    scale first, so an exact mean in [b − 0.5·10^-(s+4), b) just below
    a half-boundary b at scale s rounded UP through the intermediate
    (constructible from n ≈ 2·10^4 rows: avg of 20 000 values summing
    99.99 at scale 2 is 0.0049995 → Spark-wrap 0.01, Trino 0.00).  For
    p ≤ 28 and s ≤ 6 the emission is now the exact integer protocol

        T = |sum|·10^s  (unscaled integer sum — exact, decimals sum
                         exactly);  C = count;  D = 2·nullif(C, 0)
        Q = ((2T + C) − (2T + C) % D) / D   -- = floor((2T+C)/(2C)):
            % on decimals is exact and the now-exactly-divisible
            division is identity, so NO rounding happens before the
            final integer result (Spark's `div` would be the natural
            spelling but silently wraps through BIGINT on >19-digit
            quotients)
        avg = sign(sum) · Q · 10^-s         -- HALF_UP at scale s, any n

    matching Trino's round-half-away-from-zero for every group size.
    nullif keeps the empty group NULL instead of a divide-by-zero;
    DISTINCT distributes onto sum/count; trailing FILTER/OVER clauses
    attach to every generated aggregate.  Outside the gate (p > 28
    risks the quotient's 38-digit cap, s > 6 the rescale multiply's
    minimum-scale clamp) the CAST wrap remains with its measured
    double-rounding band as documented residue.

    Reference parity: Trino DecimalAverageAggregation semantics; text
    forwarded verbatim by the reference (internal/trino/client.go).
    """
    types = {str(k).lower(): str(v).lower() for k, v in column_types.items()}
    pos = 0
    while True:
        found = _find_call(q, _AVG_HEAD, pos)
        if not found:
            return q
        m, bstart, bend = found
        inner = q[bstart:bend].strip()
        mdist = re.match(r"(?is)^(DISTINCT|ALL)\b", inner)
        operand = inner[mdist.end():].strip() if mdist else inner
        params = _operand_true_decimal_params(operand, types)
        if params is None:
            pos = bend
            continue
        p, s = params
        end = bend + 1
        # fold trailing FILTER (WHERE …) / OVER (…) / OVER w clauses
        # into the wrap — a stranded `… AS DECIMAL(p, s)) OVER w` is a
        # parse error on valid Trino SQL (named-window references)
        while True:
            trailer = _find_call(q, _AVG_TRAILER, end)
            if trailer and not q[end : trailer[0].start()].strip():
                end = trailer[2] + 1
                continue
            named = re.match(
                r"(?is)\s*OVER\s+([A-Za-z_][A-Za-z0-9_]*)", q[end:]
            )
            if named:
                end += named.end()
                continue
            break
        if p <= 28 and s <= 6:
            suf = q[bend + 1 : end]
            dist = "DISTINCT " if mdist and mdist.group(1).upper() == "DISTINCT" else ""
            sm = f"sum({dist}{operand}){suf}"
            cnt = f"count({dist}{operand}){suf}"
            t2c = (
                f"(2 * CAST(abs({sm}) * {10 ** s} AS DECIMAL(38,0))"
                f" + {cnt})"
            )
            d = f"(2 * nullif({cnt}, 0))"
            qi = (
                f"CAST(({t2c} - {t2c} % {d}) / {d} AS DECIMAL(38,0))"
            )
            signed = (
                f"(CASE WHEN {sm} < 0 THEN -{qi} ELSE {qi} END)"
            )
            if s == 0:
                repl = f"CAST({signed} AS DECIMAL({p}, 0))"
            else:
                unit = "0." + "0" * (s - 1) + "1"
                repl = f"CAST({signed} * {unit} AS DECIMAL({p}, {s}))"
        else:
            repl = f"CAST({q[m.start():end]} AS DECIMAL({p}, {s}))"
        q = q[: m.start()] + repl + q[end:]
        pos = m.start() + len(repl)


def _rewrite_bare_decimal(q: str) -> str:
    """Unparameterized ``CAST(x AS DECIMAL)`` → ``DECIMAL(38,0)``:
    Trino's DecimalType.createDecimalType() defaults to precision 38
    / scale 0, while Spark's bare DECIMAL is (10,0) — an 11-digit
    value Trino casts fine was an ANSI overflow error here, and
    in-range values silently carried the narrower type into the
    decimal arithmetic calculus.  Scoped to CAST/TRY_CAST targets (a
    bare ``AS DECIMAL`` elsewhere is a column alias — DECIMAL is not
    reserved); runs before the knowability passes so CAST targets
    read parameterized everywhere downstream."""
    pos = 0
    while True:
        found = _find_call(q, _CAST_HEAD, pos)
        if found is None:
            return q
        m, b0, b1 = found
        body = q[b0:b1]
        as_at = _split_cast_body(body)
        if as_at is None or body[as_at.end() :].strip().lower() != "decimal":
            pos = m.end()
            continue
        q = q[:b0] + body[: as_at.end()] + " DECIMAL(38,0)" + q[b1:]
        pos = m.end()


_DATE_TYPED_LITERAL = re.compile(r"(?is)DATE\s*'[^']*'")
#: day-time interval literal with a sub-day-capable unit: single
#: HOUR/MINUTE/SECOND, or a DAY TO x span ('D HH:MM:SS.fff' body)
_DT_INTERVAL_AFTER_SIGN = re.compile(
    r"(?is)\s*INTERVAL\s*'(?P<body>[^']*)'\s*"
    r"(?P<unit>HOUR|MINUTE|SECOND|DAY\s+TO\s+(?:HOUR|MINUTE|SECOND))\b"
)


_REAL_TYPED_LITERAL = re.compile(r"(?is)REAL\s*'[^']*'")


def _operand_is_real(expr: str, types: dict) -> bool:
    """Knowable FLOAT32 operand (REAL literals, CAST(... AS REAL/
    FLOAT), catalog float columns) — the double→varchar renderer
    must compute shortest-roundtrip digits over float32 for these."""
    e = expr.strip()
    if not e:
        return False
    if _REAL_TYPED_LITERAL.fullmatch(e):
        return True
    if e.startswith("(") and e.endswith(")"):
        inner = e[1:-1].strip()
        return _balanced(inner) and _operand_is_real(inner, types)
    if _cast_target_of(e) in ("real", "float"):
        return True
    if _IDENT_CHAIN.fullmatch(e):
        return types.get(e.rsplit(".", 1)[-1].lower(), "") == "float"
    return False


def _operand_is_date(expr: str, types: dict) -> bool:
    """Lexically-knowable DATE operand (the x47 contract: DATE
    literals, CAST(... AS DATE), plain catalog columns of date
    type)."""
    e = expr.strip()
    if not e:
        return False
    if _DATE_TYPED_LITERAL.fullmatch(e):
        return True
    if e.startswith("(") and e.endswith(")"):
        inner = e[1:-1].strip()
        return _balanced(inner) and _operand_is_date(inner, types)
    if _cast_target_of(e) == "date":
        return True
    if _IDENT_CHAIN.fullmatch(e):
        return types.get(e.rsplit(".", 1)[-1].lower(), "") == "date"
    return False


def _dt_interval_seconds(body: str, unit: str):
    """Total seconds of a day-time interval literal as an exact
    ``Fraction``, or None when the body doesn't parse (leave such text
    alone — loud later, not silently mis-typed).

    Exact arithmetic throughout (ADVICE r12): a float total past 2^53
    seconds could read as whole-day when the true value has a sub-day
    remainder (or vice versa), silently changing the result instead of
    erroring.  Fraction keeps the downstream ``secs % 86400`` test and
    day count exact at any magnitude; bodies Trino itself would reject
    ('1e3', 'inf', hex) fail the digit regexes and return None."""
    from fractions import Fraction

    unit = re.sub(r"\s+", " ", unit.strip().lower())
    body = body.strip()
    if unit in ("hour", "minute", "second"):
        if not re.fullmatch(r"-?\d+(?:\.\d+)?", body):
            return None
        return Fraction(body) * {"hour": 3600, "minute": 60, "second": 1}[unit]
    # DAY TO x spans: 'D[ HH[:MM[:SS[.fff]]]]'
    m = re.fullmatch(
        r"(-?\d+)(?:\s+(\d+)(?::(\d+)(?::(\d+(?:\.\d+)?))?)?)?", body
    )
    if not m:
        return None
    d, hh, mm, ss = m.groups()
    sign = -1 if d.startswith("-") else 1
    return sign * (
        abs(int(d)) * 86400
        + int(hh or 0) * 3600
        + int(mm or 0) * 60
        + (Fraction(ss) if ss else 0)
    )


def _rewrite_date_interval(q: str, column_types: dict) -> str:
    """Trino ``DATE ± day-time interval`` keeps the DATE type and
    REJECTS sub-day components — ``DATE '2020-01-31' + INTERVAL '36'
    HOUR`` raises "Cannot add hour, minutes or seconds to a date"
    (DateTimeOperators.datePlusIntervalDayToSecond checks the
    interval's millis against whole days), and ``+ INTERVAL '24'
    HOUR`` returns the DATE 2020-02-01 — while Spark silently
    promotes to TIMESTAMP ('2020-02-01 12:00:00') in both cases.
    For knowable-date left operands (DATE literals, CAST targets,
    catalog date columns — the x47 contract) with a LITERAL
    sub-day-capable interval:

    - whole-day total → ``date_add(x, ±days)`` — pure epoch-day
      arithmetic like Trino's, immune to DST transitions in non-UTC
      caller sessions (a timestamp round-trip would lose a day
      across fall-back)
    - sub-day remainder → ``raise_error(...)`` with Trino's message

    ``INTERVAL ... DAY``/YEAR/MONTH forms already agree (Spark returns
    DATE there) and are not touched.  Interval-on-the-left, chained
    arithmetic, and unknowable operands keep Spark's promotion —
    documented residue, same class as x47.
    """
    types = {str(k).lower(): str(v).lower() for k, v in column_types.items()}
    pos = 0
    while True:
        mask = _code_mask(q)
        hit = None
        for i in range(pos, len(q)):
            if not mask[i] or q[i] not in "+-":
                continue
            m = _DT_INTERVAL_AFTER_SIGN.match(q, i + 1)
            if m is None:
                continue
            try:
                lstart = _left_operand_start(q, mask, i)
            except Exception:
                continue
            x = q[lstart:i].strip()
            if not _operand_is_date(x, types):
                continue
            secs = _dt_interval_seconds(m.group("body"), m.group("unit"))
            if secs is None:
                continue
            hit = (lstart, i, m.end(), q[i], secs)
            break
        if hit is None:
            return q
        lstart, sign_at, end, sign, secs = hit
        x = q[lstart:sign_at].strip()
        if secs % 86400 == 0:
            # pure epoch-day arithmetic (Trino's
            # datePlusIntervalDayToSecond): a timestamp round-trip
            # would be off by a day across a DST transition in a
            # non-UTC caller session.  The outer CAST is a no-op for
            # Spark (date_add already returns DATE) but keeps the
            # result LEXICALLY date-knowable, so chained interval
            # terms (… + INTERVAL '24' HOUR + INTERVAL '1' HOUR) are
            # seen by the next scan iteration and keep Trino's
            # semantics instead of silently promoting
            days = int(secs) // 86400
            repl = (
                f"CAST(date_add({x}, {days if sign == '+' else -days})"
                f" AS DATE)"
            )
        else:
            verb = "add" if sign == "+" else "subtract"
            prep = "to" if sign == "+" else "from"
            repl = (
                f"CAST(raise_error('Cannot {verb} hour, minutes or seconds "
                f"{prep} a date') AS DATE)"
            )
        q = q[:lstart] + repl + q[end:]
        pos = lstart + len(repl)


#: calls that ALWAYS return an array regardless of argument types —
#: the knowability list for the array-comparison pass (concat/reverse
#: are excluded: they also run on strings)
_ARRAY_RESULT_FNS = frozenset(
    "array array_sort array_distinct array_remove array_compact slice "
    "sequence array_repeat array_union array_intersect array_except "
    "arrays_zip shuffle flatten transform filter zip_with "
    "array_prepend array_append array_insert sort_array".split()
)

_ARRAY_CMP_MSG = (
    "ARRAY comparison not supported for arrays with null elements"
)


def _operand_is_array(expr: str, types: dict) -> bool:
    """Lexically-knowable array operand (the x47 contract applied to
    array types): array-returning whole calls, plain catalog columns of
    array type, parenthesized groups, and ``||`` chains any of whose
    segments is a knowable array (array concatenation)."""
    e = expr.strip()
    if not e:
        return False
    if e.startswith("(") and e.endswith(")"):
        inner = e[1:-1].strip()
        if _balanced(inner):
            return _operand_is_array(inner, types)
        return False
    name = _whole_call_name_any(e)
    if name in ("cast", "try_cast"):
        return _cast_target_of(e) == "array"
    if name is not None:
        return name in _ARRAY_RESULT_FNS
    if _IDENT_CHAIN.fullmatch(e):
        return types.get(e.rsplit(".", 1)[-1].lower(), "").startswith("array")
    # top-level || chain: array concatenation when any side is an array
    parts = _split_concat_chain(e)
    if len(parts) > 1:
        return any(_operand_is_array(p, types) for p in parts)
    return False


def _whole_call_name_any(e: str) -> Optional[str]:
    """Lowercased name when ``e`` is exactly one ``name( ... )`` call
    (any name — unlike _whole_call_name's double-fn head)."""
    m = re.match(r"\s*([A-Za-z_][A-Za-z0-9_]*)\s*\(", e)
    if m is None:
        return None
    mask = _code_mask(e)
    depth = 0
    for i in range(m.end() - 1, len(e)):
        if not mask[i]:
            continue
        if e[i] == "(":
            depth += 1
        elif e[i] == ")":
            depth -= 1
            if depth == 0:
                return m.group(1).lower() if not e[i + 1 :].strip() else None
    return None


def _split_concat_chain(e: str) -> List[str]:
    """Split on top-level ``||`` (code-mask- and paren-aware)."""
    mask = _code_mask(e)
    parts, depth, last = [], 0, 0
    i = 0
    while i < len(e) - 1:
        if mask[i]:
            if e[i] == "(":
                depth += 1
            elif e[i] == ")":
                depth -= 1
            elif depth == 0 and e[i] == "|" and e[i + 1] == "|":
                parts.append(e[last:i])
                i += 2
                last = i
                continue
        i += 1
    parts.append(e[last:])
    return [p for p in (s.strip() for s in parts) if p]


_ROW_CMP_MSG = (
    "ROW comparison not supported for fields with null elements"
)

#: calls that ALWAYS return a map — the knowability list for the
#: map-equality arm
_MAP_RESULT_FNS = frozenset(
    "map map_from_arrays map_from_entries map_concat map_filter "
    "transform_keys transform_values str_to_map map_zip_with".split()
)


def _operand_is_map(expr: str, types: dict) -> bool:
    """Lexically-knowable map operand (map-returning whole calls —
    Trino's MAP(ARRAY[...], ARRAY[...]) constructor spelling
    included — catalog map columns, parenthesized groups)."""
    e = expr.strip()
    if not e:
        return False
    if e.startswith("(") and e.endswith(")"):
        inner = e[1:-1].strip()
        if _balanced(inner):
            return _operand_is_map(inner, types)
        return False
    name = _whole_call_name_any(e)
    if name in ("cast", "try_cast"):
        return _cast_target_of(e) == "map"
    if name is not None:
        return name in _MAP_RESULT_FNS
    if _IDENT_CHAIN.fullmatch(e):
        return types.get(e.rsplit(".", 1)[-1].lower(), "").startswith("map")
    return False


def _split_angle_args(body: str) -> List[str]:
    """Top-level comma split of a Spark type-parameter list, <>- AND
    ()-aware — ``struct<a:decimal(10,2),b:int>`` must split at the
    second comma only (the paren-blind form collapsed any nested
    struct containing a parameterized type to shape None, silently
    re-opening the x72 conflation for decimal/varchar fields)."""
    parts, depth, last = [], 0, 0
    for i, c in enumerate(body):
        if c in "<(":
            depth += 1
        elif c in ">)":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(body[last:i])
            last = i + 1
    parts.append(body[last:])
    return [p.strip() for p in parts]


def _shape_from_spark_type(t: str):
    """Nesting SHAPE of a Spark catalog type string — the recursion
    driver for three-valued equality (x72): ``("array", elem_shape)``,
    ``("map", value_shape)``, ``("struct", [(name, shape), ...])``,
    ``("double",)`` for float leaves (x74 — NaN-aware element
    equality), or None for other scalars/unknown."""
    t = (t or "").strip()
    tl = t.lower()
    if tl.startswith("array<") and t.endswith(">"):
        return ("array", _shape_from_spark_type(t[6:-1]))
    if tl.startswith("map<") and t.endswith(">"):
        kv = _split_angle_args(t[4:-1])
        return ("map", _shape_from_spark_type(kv[1]) if len(kv) == 2 else None)
    if tl.startswith("struct<") and t.endswith(">"):
        fields = []
        for part in _split_angle_args(t[7:-1]):
            name, sep, ft = part.partition(":")
            if not sep or not name.strip():
                return None
            fields.append((name.strip(), _shape_from_spark_type(ft)))
        return ("struct", fields)
    if tl in ("double", "float", "real"):
        return ("double",)
    return None


def _shape_from_trino_type(t: str):
    """Nesting shape of a Trino type spelling (CAST targets):
    ``ARRAY(T)`` / ``MAP(K, V)`` / ``ROW(name T, ...)``.  Unnamed ROW
    fields make the struct unaddressable → None (no recursion)."""
    tt = (t or "").strip()
    m = re.fullmatch(r"(?is)ARRAY\s*\((.*)\)", tt)
    if m:
        return ("array", _shape_from_trino_type(m.group(1)))
    m = re.fullmatch(r"(?is)MAP\s*\((.*)\)", tt)
    if m:
        kv = _split_top_args(m.group(1))
        return ("map", _shape_from_trino_type(kv[1]) if len(kv) == 2 else None)
    m = re.fullmatch(r"(?is)ROW\s*\((.*)\)", tt)
    if m:
        fields = []
        for part in _split_top_args(m.group(1)):
            nm = re.match(
                r"\s*([A-Za-z_][A-Za-z0-9_]*)\s+(\S.*)$", part, re.DOTALL
            )
            if nm is None:
                return None
            fields.append((nm.group(1), _shape_from_trino_type(nm.group(2))))
        return ("struct", fields)
    if tt.lower() in ("double", "real", "float", "double precision"):
        return ("double",)
    return None


def _cast_target_text(e: str) -> Optional[str]:
    """The raw type text of a whole CAST/TRY_CAST expression."""
    m = re.fullmatch(r"(?is)(?:CAST|TRY_CAST)\s*\((.*)\)", e.strip())
    if m is None:
        return None
    body = m.group(1)
    as_at = _split_cast_body(body)
    if as_at is None:
        return None
    return body[as_at.end():]


def _operand_shape(expr: str, types: dict):
    """Nesting shape of a lexically/catalog-knowable operand (the x47
    contract extended below the top level — x72): constructors
    destructure (positional struct()/ROW() fields take Spark's
    ``col1..colN`` default names), CAST targets parse, catalog columns
    read the types map.  None = scalar or unknowable (the pre-x72
    conflating fallback, now only for genuinely unknowable nesting)."""
    e = expr.strip()
    if not e:
        return None
    if e.startswith("(") and e.endswith(")") and _balanced(e[1:-1]):
        return _operand_shape(e[1:-1].strip(), types)
    name = _whole_call_name_any(e)
    if name in ("cast", "try_cast"):
        return _shape_from_trino_type(_cast_target_text(e) or "")
    if name is not None:
        b0 = e.index("(") + 1
        args = [a.strip() for a in _split_top_args(e[b0:-1])]
        if name == "array":
            elem = None
            for a in args:
                if a.upper() != "NULL":
                    elem = _merge_shapes(elem, _operand_shape(a, types))
            return ("array", elem)
        if name in ("row", "struct"):
            return (
                "struct",
                [
                    (f"col{i + 1}", _operand_shape(a, types))
                    for i, a in enumerate(args)
                ],
            ) if args else None
        if name == "named_struct":
            if len(args) % 2 or not args:
                return None
            names = [a.strip("'\"") for a in args[0::2]]
            return (
                "struct",
                [
                    (n, _operand_shape(a, types))
                    for n, a in zip(names, args[1::2])
                ],
            )
        if name == "map":
            # Trino MAP(ARRAY[k...], ARRAY[v...]) spelling: value shape
            # is the second array's element shape
            if len(args) == 2:
                vs = _operand_shape(args[1], types)
                return ("map", vs[1] if vs and vs[0] == "array" else None)
            return ("map", None)
        if name == "map_from_arrays" and len(args) == 2:
            vs = _operand_shape(args[1], types)
            return ("map", vs[1] if vs and vs[0] == "array" else None)
        if name in _ARRAY_RESULT_FNS:
            return ("array", None)
        if name in _MAP_RESULT_FNS:
            return ("map", None)
        if name in _ALWAYS_DOUBLE_FNS:
            return ("double",)
        return None
    if _IDENT_CHAIN.fullmatch(e):
        return _shape_from_spark_type(types.get(e.rsplit(".", 1)[-1].lower(), ""))
    if _operand_fp_kind(e, types) == "double":
        return ("double",)  # float literal leaves (x74 NaN-aware pairs)
    return None


_PLAIN_NUM_LITERAL = re.compile(r"-?\d+(?:\.\d+)?")


def _maybe_nan_operand(e: str, types: dict) -> bool:
    """Could this operand evaluate to NaN?  Finite numeric literals,
    decimal/integral-typed operands → no; a DOUBLE/REAL 'NaN' typed
    literal, nan(), double columns/CASTs, and unknowable expressions in
    a float-typed comparison → yes (conservative: a spurious isnan()
    guard is semantics-preserving, a missing one is a divergence)."""
    e = e.strip()
    if not e:
        return True
    if _PLAIN_NUM_LITERAL.fullmatch(e) or _DOUBLE_LITERAL.fullmatch(e):
        return False
    m = re.fullmatch(r"(?is)(?:DOUBLE|REAL)\s+'([^']*)'", e)
    if m:
        return m.group(1).strip().lower() == "nan"
    if e.startswith("(") and e.endswith(")") and _balanced(e[1:-1]):
        return _maybe_nan_operand(e[1:-1], types)
    kind = _operand_fp_kind(e, types)
    if kind == "decimal":
        return False
    if kind is None and _operand_integral(e, types):
        return False
    return True


def _dbl_eq_expr(a: str, b: str, neg: bool = False) -> str:
    """Trino double equality under NaN (x73): ``nan() = nan()`` is
    FALSE in Trino (DoubleOperators.equal is Java ``==``, IEEE) where
    Spark's comparison operators treat NaN as equal to itself.  Only
    the both-sides-NaN case diverges.

    CONJUNCTIVE form, not a CASE: the raw ``(a) = (b)`` stays a
    top-level conjunct so Catalyst still pushes it into the scan
    (a CASE-wrapped predicate would kill PushedFilters on every guarded
    float comparison — a 100 TB scan regression).  Exact three-valued:
    a NULL operand makes the base comparison NULL and
    ``isnan(NULL) = false`` keeps the guard term true/false without
    masking it (verified over all NULL/NaN/finite pairings)."""
    if neg:
        return f"((({a}) <> ({b})) OR (isnan({a}) AND isnan({b})))"
    return f"((({a}) = ({b})) AND NOT (isnan({a}) AND isnan({b})))"


def _dbl_ord_expr(a: str, b: str, op: str, na: bool, nb: bool) -> str:
    """Trino double ordering under NaN (x73): every ordering comparison
    involving NaN is FALSE in Trino (IEEE Java operators) where Spark
    orders NaN larger than everything (``nan() > 1.0`` is true here).
    ``na``/``nb`` say which sides could be NaN — finite-literal sides
    need no guard term.

    Conjunctive, pushdown-preserving (see _dbl_eq_expr).  The
    ``OR … IS NULL`` disjunct keeps the exact three-valued contract on
    the (NULL, NaN) pairing: Trino says NULL there, and a bare
    ``AND NOT isnan(x)`` would decide false."""
    parts = [f"(({a}) {op} ({b}))"]
    if na:
        parts.append(f"(NOT isnan({a}) OR ({b}) IS NULL)")
    if nb:
        parts.append(f"(NOT isnan({b}) OR ({a}) IS NULL)")
    return "(" + " AND ".join(parts) + ")"


def _rewrite_double_nan_comparisons(q: str, column_types: dict) -> str:
    """x73: Spark's comparison operators treat NaN as EQUAL to itself
    and LARGER than everything (``nan() = nan()`` → true, ``nan() >
    1.0`` → true) where Trino's DoubleOperators are IEEE Java — every
    comparison involving NaN is false and ``nan() = nan()`` is false.
    A silent VALUE divergence on any float comparison a NaN can reach.

    Rewrites comparisons where a side is knowably DOUBLE (x47
    contract) and a NaN can actually reach the operator: equality
    diverges only when BOTH sides can be NaN, ordering when EITHER
    can.  Emits the conjunctive pushdown-preserving forms
    (_dbl_eq_expr/_dbl_ord_expr).  JOIN ON conditions stay exempt
    (hash-join key extraction still works on conjunctions, but join
    NaN-matching is its own residue class, consistent with x65);
    quantified comparisons belong to their own pass; BETWEEN bounds
    are documented residue (only a NaN UPPER bound diverges).

    MUST run BEFORE the generator passes that emit Spark-semantics
    float comparisons on purpose (cast-rounding's sign checks, the
    log-IEEE domain guards) — running after them re-rewrote their
    internals and broke ``ln(nan())``.

    Scalar-SUBQUERY operands are skipped HERE but no longer residue
    (r15, VERDICT r14 #3): _rewrite_nan_subquery_comparisons types
    them with the session analyzer after the quantified pass,
    _rewrite_nan_in_subqueries closes IN-subquery membership,
    _rewrite_nan_between the BETWEEN bounds, and the quantified
    thresholds themselves are NaN-aware on analyzer-certified float
    sets.  Remaining residue: CORRELATED subqueries (no standalone
    analysis), subqueries still carrying later-pass idioms at analyze
    time, and arrays_overlap (see _rewrite_nan_membership).

    Reference parity: Trino DoubleOperators equal/lessThan/etc (Java
    IEEE), text forwarded verbatim (internal/trino/client.go:284-291).
    """
    types = {str(k).lower(): str(v).lower() for k, v in column_types.items()}
    mask = _code_mask(q)
    n = len(q)
    clauses = _clause_keyword_positions(q, mask)
    hits = []
    i = 0
    while i < n:
        if not mask[i] or q[i] not in "<>=!":
            i += 1
            continue
        if q[i : i + 3] == "<=>":
            i += 3
            continue
        two = q[i : i + 2]
        if two == "=>":
            i += 2
            continue
        if two in ("<=", ">=", "<>", "!="):
            op = two
        elif q[i] in "<>=":
            if q[i] == ">" and i > 0 and q[i - 1] in "-=<":
                i += 1
                continue
            if q[i] == "=" and i > 0 and q[i - 1] in "<>!":
                i += 1
                continue
            op = q[i]
        else:
            i += 1
            continue
        try:
            lstart = _left_operand_start(q, mask, i)
        except Exception:
            i += len(op)
            continue
        left = q[lstart:i].strip()
        if re.match(r"(?is)\s*(ANY|ALL|SOME)\s*\(", q[i + len(op):]):
            i += len(op)
            continue
        rend = _right_operand_end(q, mask, i + len(op))
        if rend is None:
            i += len(op)
            continue
        right = q[i + len(op): rend].strip()
        if re.match(r"(?is)\(\s*(SELECT|WITH)\b", right) or re.match(
            r"(?is)\(\s*(SELECT|WITH)\b", left
        ):
            i += len(op)
            continue
        if _nearest_clause_is_on(clauses, lstart):
            i += len(op)
            continue
        if "double" not in (
            _operand_fp_kind(left, types), _operand_fp_kind(right, types)
        ):
            i += len(op)
            continue
        na = _maybe_nan_operand(left, types)
        nb = _maybe_nan_operand(right, types)
        needed = (na and nb) if op in ("=", "<>", "!=") else (na or nb)
        if not needed:
            i += len(op)
            continue
        if _has_nondeterministic_call(left) or _has_nondeterministic_call(
            right
        ):
            i += len(op)
            continue
        hits.append((lstart, rend, left, right, op, na, nb))
        i = rend
    for lstart, rend, left, right, op, na, nb in reversed(hits):
        if op == "=":
            repl = _dbl_eq_expr(left, right)
        elif op in ("<>", "!="):
            repl = _dbl_eq_expr(left, right, neg=True)
        else:
            repl = _dbl_ord_expr(left, right, op, na, nb)
        q = q[:lstart] + repl + q[rend:]
    return q


_SUBQUERY_OPERAND = re.compile(r"(?is)\(\s*(SELECT|WITH)\b")


def _is_subquery_operand(e: str) -> bool:
    """Scalar-subquery operand — the NaN guard forms DUPLICATE operand
    text, and each copy of a subquery is re-planned (the main
    comparison pass skips these by the same contract)."""
    return bool(_SUBQUERY_OPERAND.match(e.strip()))


_NAN_MEMBER_HEAD = re.compile(
    r"\b(contains|array_position|array_remove)\s*\(", re.IGNORECASE
)


def _rewrite_nan_membership(q: str, column_types: dict) -> str:
    """x76: the array membership functions use Trino's per-element
    EQUAL operator (Java IEEE) — ``contains(ARRAY[nan()], nan())`` is
    FALSE, ``array_position`` 0, ``array_remove`` removes nothing —
    where Spark's equivalents match NaN against NaN.  Where the
    searched ELEMENT is knowably double and maybe-NaN (x47 contract),
    the call gains an ``isnan`` dispatch arm: NaN is never equal, so
    contains reduces to the null-element contract (NULL if the array
    has nulls, else false — both engines' contract when not found),
    position to 0, remove to identity.  The searched-element side
    alone gates: a NaN probe against any element type is never found
    in Trino regardless of the array side.

    ``arrays_overlap`` is documented residue: Trino implements it over
    the TOTAL-ORDER comparator (sort-merge walk), not element-equal,
    and its NaN contract is not lexically verifiable in-sandbox.

    Runs right after _rewrite_double_nan_comparisons, BEFORE the
    rename passes — the emitted wrapper keeps the inner call in Trino
    spelling for them.  Reference parity: Trino ArrayContains /
    ArrayPositionFunction / ArrayRemoveFunction equal-operator loops
    (internal/trino/client.go:284-291 forwards text verbatim).
    """
    types = {str(k).lower(): str(v).lower() for k, v in column_types.items()}
    pos = 0
    while True:
        found = _find_call(q, _NAN_MEMBER_HEAD, pos)
        if not found:
            return q
        m, bstart, bend = found
        fname = m.group(1).lower()
        args = _split_top_args(q[bstart:bend])
        if len(args) != 2:
            pos = bend
            continue
        arr, x = args[0].strip(), args[1].strip()
        if (
            _operand_fp_kind(x, types) != "double"
            or not _maybe_nan_operand(x, types)
            or _is_subquery_operand(arr)
            or _is_subquery_operand(x)
            or _has_nondeterministic_call(arr)
            or _has_nondeterministic_call(x)
        ):
            pos = bend
            continue
        call = q[m.start() : bend + 1]
        if fname == "contains":
            repl = (
                f"IF(isnan({x}), IF(({arr}) IS NULL, CAST(NULL AS BOOLEAN),"
                f" IF(exists({arr}, __nm -> __nm IS NULL),"
                f" CAST(NULL AS BOOLEAN), false)), {call})"
            )
        elif fname == "array_position":
            repl = f"IF(isnan({x}), CAST(0 AS BIGINT), {call})"
        else:
            repl = f"IF(isnan({x}), {arr}, {call})"
        q = q[: m.start()] + repl + q[bend + 1 :]
        # skip past the whole wrapper: the inner call is embedded in it
        # and must not be re-matched (its args still read maybe-NaN)
        pos = m.start() + len(repl)
    return q


_BETWEEN_HEAD = re.compile(r"(?is)\b(?P<neg>NOT\s+)?BETWEEN\b")
_FRAME_UNIT_TAIL = re.compile(r"(?is)(ROWS|RANGE|GROUPS)\s*$")
_TOP_AND = re.compile(r"(?is)\bAND\b")


def _rewrite_nan_between(q: str, column_types: dict) -> str:
    """x77: ``x BETWEEN lo AND hi`` desugars to two ordering
    comparisons, and Spark's NaN-largest ordering makes ``1.0 BETWEEN
    0.0 AND nan()`` TRUE where Trino's IEEE DoubleOperators say FALSE
    (``x <= NaN`` is false); a NaN probe diverges symmetrically.  The
    main comparison pass never sees the desugared pair, so BETWEEN was
    the documented residue corner.  Where the triple contains a
    knowably-double operand (x47 contract) and a NaN can reach either
    bound comparison, the BETWEEN is respelled as the explicit
    conjunction of the two _dbl_ord_expr forms — conjunctive, so both
    range comparisons still push to the scan.  NOT BETWEEN negates the
    whole parenthesized conjunction (exact three-valued).

    Window frame bounds (``ROWS BETWEEN 1 PRECEDING AND …``) are
    skipped by the frame-unit lookbehind; non-double triples, subquery
    bounds, and nondeterministic operands keep Spark's desugaring
    (residue contract shared with the comparison pass)."""
    types = {str(k).lower(): str(v).lower() for k, v in column_types.items()}
    start = 0
    while True:
        mask = _code_mask(q)
        m = next(
            (
                c
                for c in _BETWEEN_HEAD.finditer(q, start)
                if mask[c.start()]
            ),
            None,
        )
        if m is None:
            return q
        clauses = _clause_keyword_positions(q, mask)
        # window frame spec: the unit keyword directly precedes BETWEEN
        if _FRAME_UNIT_TAIL.search(q[: m.start()]):
            start = m.end()
            continue
        try:
            lstart = _left_operand_start(q, mask, m.start())
        except Exception:
            start = m.end()
            continue
        probe = q[lstart : m.start()].strip()
        # find the BETWEEN's own AND at top paren depth
        depth, and_m = 0, None
        for am in re.finditer(r"[()]|\bAND\b", q[m.end() :], re.IGNORECASE):
            p = m.end() + am.start()
            if not mask[p]:
                continue
            tok = am.group(0)
            if tok == "(":
                depth += 1
            elif tok == ")":
                if depth == 0:
                    break  # BETWEEN's enclosing paren closed first
                depth -= 1
            elif depth == 0:
                and_m = (p, p + 3)
                break
        if and_m is None:
            start = m.end()
            continue
        lo = q[m.end() : and_m[0]].strip()
        rend = _right_operand_end(q, mask, and_m[1])
        if rend is None:
            start = m.end()
            continue
        hi = q[and_m[1] : rend].strip()
        ops = (probe, lo, hi)
        if (
            not probe
            or _nearest_clause_is_on(clauses, lstart)
            or any(_is_subquery_operand(e) for e in ops)
            or any(_has_nondeterministic_call(e) for e in ops)
        ):
            start = m.end()
            continue
        kinds = [_operand_fp_kind(e, types) for e in ops]
        nans = [_maybe_nan_operand(e, types) for e in ops]
        # the desugared pair diverges only when the UPPER bound can be
        # NaN (Spark `x <= NaN` is true) or probe AND lower bound both
        # can (Spark `NaN >= NaN` is true); a NaN probe against finite
        # bounds is false in BOTH engines (the `<=` conjunct decides),
        # so the ubiquitous `double_col BETWEEN lit AND lit` keeps its
        # bare form — zero guard overhead on the common scan shape
        if "double" not in kinds or not (
            nans[2] or (nans[0] and nans[1])
        ):
            start = m.end()
            continue

        def _ord(a, b, op, na, nb, ka, kb):
            if "double" in (ka, kb) and (na or nb):
                return _dbl_ord_expr(a, b, op, na, nb)
            return f"(({a}) {op} ({b}))"

        ge = _ord(probe, lo, ">=", nans[0], nans[1], kinds[0], kinds[1])
        le = _ord(probe, hi, "<=", nans[0], nans[2], kinds[0], kinds[2])
        body = f"({ge} AND {le})"
        repl = f"(NOT {body})" if m.group("neg") else body
        q = q[:lstart] + repl + q[rend:]
        start = lstart + len(repl)


_IN_SUBQ_HEAD = re.compile(
    r"(?is)\b(?P<neg>NOT\s+)?IN\s*\(\s*(?=SELECT\b|WITH\b)"
)


def _rewrite_nan_in_subqueries(q: str, column_types: dict) -> str:
    """x77: IN over a subquery uses Trino's per-element EQUAL operator
    (Java IEEE), so a NaN probe matches NOTHING — ``nan() IN (SELECT
    nan())`` is FALSE (NULL when the set has NULL elements) — where
    Spark's semi-join matches NaN against NaN.  Where the probe is
    knowably double and maybe-NaN (x47 contract), the membership gains
    the exact three-valued dispatch:

        ((probe IN (sub) AND NOT isnan(probe))
         OR IF(<set has NULL> AND probe IS NOT NULL,
               CAST(NULL AS BOOLEAN), false))

    finite probe: the guard arm is false and the isnan conjunct true —
    Spark's own IN decides (NaN elements never equal a finite probe in
    either engine); NaN probe: the IN arm is false regardless of
    Spark's NaN-matching and the IF arm supplies Trino's
    NULL-if-set-has-nulls-else-false contract; NULL probe: IN is NULL,
    the IF arm false — NULL OR false = NULL.  ``NOT IN`` negates the
    whole form (its Spark null-aware anti-join spelling is replaced,
    but the form above is already exact three-valued, so the negation
    is too).  The set-null probe is one extra scalar aggregate over the
    subquery — only paid on maybe-NaN probes.

    The emitted text embeds ``IN (sub)`` again; the cursor jumps past
    each replacement so the pass never re-matches its own output
    (nested maybe-NaN INs inside the subquery text are left as
    documented residue)."""
    types = {str(k).lower(): str(v).lower() for k, v in column_types.items()}
    start = 0
    while True:
        mask = _code_mask(q)
        m = next(
            (
                c
                for c in _IN_SUBQ_HEAD.finditer(q, start)
                if mask[c.start()]
            ),
            None,
        )
        if m is None:
            return q
        clauses = _clause_keyword_positions(q, mask)
        open_paren = q.rindex("(", m.start(), m.end())
        close = _paren_close(q, open_paren + 1)
        sub = q[open_paren + 1 : close]
        try:
            lstart = _left_operand_start(q, mask, m.start())
        except Exception:
            start = m.end()
            continue
        probe = q[lstart : m.start()].strip()
        if (
            not probe
            or _nearest_clause_is_on(clauses, lstart)
            or _is_subquery_operand(probe)
            or _has_nondeterministic_call(probe)
            or _has_nondeterministic_call(sub)
            or _operand_fp_kind(probe, types) != "double"
            or not _maybe_nan_operand(probe, types)
        ):
            start = m.end()
            continue
        hasnull = (
            f"(SELECT count(*) > count(__v) FROM ({sub}) __q(__v))"
        )
        core = (
            f"((({probe}) IN ({sub}) AND NOT isnan({probe}))"
            f" OR IF({hasnull} AND ({probe}) IS NOT NULL,"
            f" CAST(NULL AS BOOLEAN), false))"
        )
        repl = f"(NOT {core})" if m.group("neg") else core
        q = q[:lstart] + repl + q[close + 1 :]
        start = lstart + len(repl)


def _nearest_clause(clauses, pos: int) -> str:
    """The clause keyword governing ``pos`` ('' before any clause)."""
    from bisect import bisect_left

    i = bisect_left(clauses, (pos, "")) - 1
    return clauses[i][1] if i >= 0 else ""


def _rewrite_in_subquery_null_semantics(q: str, column_types: dict) -> str:
    """Projected IN-subquery three-valued semantics for NON-float
    probes (r15, the general sibling of _rewrite_nan_in_subqueries):
    Spark's IN-subquery is an existence join that is NOT null-aware on
    the build side — ``SELECT 2 IN (SELECT x FROM t)`` over a set
    containing NULL and no match returns FALSE where the standard (and
    Trino) say NULL.  Unobservable under WHERE/HAVING/CASE-WHEN (false
    and unknown both exclude) and NOT IN is already null-aware in
    Spark, so ONLY positive INs whose governing clause is SELECT — the
    positions whose VALUE the driver hashes — gain the exact form:

        ((probe IN (sub))
         OR IF(<set has NULL> AND probe IS NOT NULL,
               CAST(NULL AS BOOLEAN), false))

    gain the exact CASE dispatch

        CASE WHEN probe IN (sub)      THEN true   -- match wins
             WHEN probe IS NULL       THEN IF(<set empty>, false, NULL)
             WHEN <set has NULL>      THEN NULL   -- unknowable miss
             ELSE false END

    (``NOT IN`` swaps the true/false arms).  The CASE spelling is
    deliberate: a ``NOT (probe IN (sub) OR …)`` form gets
    Boolean-simplified by Catalyst into a Not(InSubquery) the planner
    routes through the WHERE-context anti-join machinery, which
    returned FALSE where the Kleene algebra says NULL (probe-caught
    r15); the CASE keeps the positive InSubquery intact.  Maybe-NaN
    double probes were already rewritten exactly (isnan dispatch
    included) by the NaN pass, whose emitted inner IN this pass skips
    by the same typing gate.  Residue (documented): value-observable
    INs OUTSIDE the SELECT clause (e.g. ``WHERE (x IN (S)) IS NULL``
    or a NOT-parenthesized ``NOT (x IN (S))`` spelling) keep Spark's
    efficient semi/anti-join semantics."""
    types = {str(k).lower(): str(v).lower() for k, v in column_types.items()}
    start = 0
    while True:
        mask = _code_mask(q)
        m = next(
            (
                c
                for c in _IN_SUBQ_HEAD.finditer(q, start)
                if mask[c.start()]
            ),
            None,
        )
        if m is None:
            return q
        clauses = _clause_keyword_positions(q, mask)
        open_paren = q.rindex("(", m.start(), m.end())
        close = _paren_close(q, open_paren + 1)
        sub = q[open_paren + 1 : close]
        try:
            lstart = _left_operand_start(q, mask, m.start())
        except Exception:
            start = m.end()
            continue
        probe = q[lstart : m.start()].strip()
        if (
            not probe
            or _nearest_clause(clauses, lstart) != "SELECT"
            or _is_subquery_operand(probe)
            # row-tuple probes ((a, b) IN (SELECT x, y …)) keep Spark
            # semantics: the rewrite's __q(__v) null probe is
            # single-column and Trino's row-IN null algebra is
            # per-field (documented residue)
            or (
                probe.startswith("(")
                and probe.endswith(")")
                and _balanced(probe[1:-1])
                and len(_split_top_args(probe[1:-1])) > 1
            )
            or _has_nondeterministic_call(probe)
            or _has_nondeterministic_call(sub)
            or (
                _operand_fp_kind(probe, types) == "double"
                and _maybe_nan_operand(probe, types)
            )
        ):
            start = m.end()
            continue
        hasnull = (
            f"(SELECT count(*) > count(__v) FROM ({sub}) __q(__v))"
        )
        empty = f"(SELECT count(*) = 0 FROM ({sub}) __q)"
        hit, miss = ("false", "true") if m.group("neg") else ("true", "false")
        repl = (
            f"(CASE WHEN ({probe}) IN ({sub}) THEN {hit}"
            f" WHEN ({probe}) IS NULL THEN IF({empty}, {miss},"
            f" CAST(NULL AS BOOLEAN))"
            f" WHEN {hasnull} THEN CAST(NULL AS BOOLEAN)"
            f" ELSE {miss} END)"
        )
        q = q[:lstart] + repl + q[close + 1 :]
        start = lstart + len(repl)


def _rewrite_nan_subquery_comparisons(
    q: str, column_types: dict, subquery_type
) -> str:
    """x77: comparisons whose operand is a SCALAR SUBQUERY — including
    the min/max thresholds the quantified pass just emitted — were the
    lexically-untypable NaN residue: the x47 contract cannot type
    ``(SELECT max(x) …)``, so ``nan() > (SELECT max(x) FROM t)`` kept
    Spark's NaN-largest TRUE where Trino's IEEE operators say FALSE.
    The session analyzer can: ``subquery_type`` resolves the operand's
    LIMIT-0 schema (parse+analyze only — no jobs), and a single-column
    DOUBLE/REAL result makes the operand a knowable maybe-NaN double.
    Rewrites with the same conjunctive pushdown-preserving forms as the
    main pass (_dbl_eq_expr/_dbl_ord_expr); the guard terms duplicate
    the subquery text, which Catalyst's ReuseSubquery collapses into
    one execution (plan-guarded in tests/test_plans.py).

    Runs AFTER the quantified pass (its thresholds are operands here)
    and after the IN pass; correlated subqueries do not analyze
    standalone (callback returns None) and stay residue, as do
    subqueries still carrying untranslated later-pass idioms."""
    types = {str(k).lower(): str(v).lower() for k, v in column_types.items()}

    def _kind_and_nan(e: str):
        """(fp-kind, maybe-NaN) with the analyzer extending x47 to
        subquery operands: double subqueries can always carry NaN."""
        if _is_subquery_operand(e):
            try:
                t = subquery_type(e)
            except Exception:
                t = None
            if t in ("double", "float"):
                return "double", True
            return None, False
        return _operand_fp_kind(e, types), _maybe_nan_operand(e, types)

    mask = _code_mask(q)
    n = len(q)
    clauses = _clause_keyword_positions(q, mask)
    hits = []
    i = 0
    while i < n:
        if not mask[i] or q[i] not in "<>=!":
            i += 1
            continue
        if q[i : i + 3] == "<=>":
            i += 3
            continue
        two = q[i : i + 2]
        if two == "=>":
            i += 2
            continue
        if two in ("<=", ">=", "<>", "!="):
            op = two
        elif q[i] in "<>=":
            if q[i] == ">" and i > 0 and q[i - 1] in "-=<":
                i += 1
                continue
            if q[i] == "=" and i > 0 and q[i - 1] in "<>!":
                i += 1
                continue
            op = q[i]
        else:
            i += 1
            continue
        try:
            lstart = _left_operand_start(q, mask, i)
        except Exception:
            i += len(op)
            continue
        left = q[lstart:i].strip()
        if re.match(r"(?is)\s*(ANY|ALL|SOME)\s*\(", q[i + len(op) :]):
            i += len(op)
            continue
        rend = _right_operand_end(q, mask, i + len(op))
        if rend is None:
            i += len(op)
            continue
        right = q[i + len(op) : rend].strip()
        # only subquery-operand comparisons belong to this pass — the
        # main (early) pass handled every lexically-typable pair and
        # its emitted guards must not be re-guarded here
        if not (_is_subquery_operand(left) or _is_subquery_operand(right)):
            i += len(op)
            continue
        if _nearest_clause_is_on(clauses, lstart):
            i += len(op)
            continue
        if _has_nondeterministic_call(left) or _has_nondeterministic_call(
            right
        ):
            i += len(op)
            continue
        (kl, na), (kr, nb) = _kind_and_nan(left), _kind_and_nan(right)
        if "double" not in (kl, kr):
            i += len(op)
            continue
        needed = (na and nb) if op in ("=", "<>", "!=") else (na or nb)
        if not needed:
            i += len(op)
            continue
        hits.append((lstart, rend, left, right, op, na, nb))
        i = rend
    for lstart, rend, left, right, op, na, nb in reversed(hits):
        if op == "=":
            repl = _dbl_eq_expr(left, right)
        elif op in ("<>", "!="):
            repl = _dbl_eq_expr(left, right, neg=True)
        else:
            repl = _dbl_ord_expr(left, right, op, na, nb)
        q = q[:lstart] + repl + q[rend:]
    return q


_VOID_RISK = re.compile(r"(?is)\bNULL\b|\barray\s*\(\s*\)")
_NULL_TEST = re.compile(r"(?is)\bIS\s+(?:NOT\s+)?NULL\b")


def _needs_void_coercion(a: str, b: str) -> bool:
    """True when either operand's text could type (or contain) VOID —
    a bare NULL literal or an empty array constructor somewhere in the
    spelling.  Without one, every nested type is materialized and the
    common-type IF(false, …) wrap is pure size overhead (it doubles
    operand text per recursion level — the guard-tripping cost on
    comparison-heavy batches).

    Only CODE segments count and ``IS [NOT] NULL`` tests are stripped
    first (ADVICE r14): a NULL inside a string literal or a null TEST
    (``CASE WHEN x IS NOT NULL THEN s1 ELSE s2 END``) cannot type
    VOID, and wrapping two shape-unknowable struct operands on such a
    false positive turns a working comparison into a field-name
    analysis error — the exact failure _wrap_compatible gates, which
    it can only veto when a shape is lexically knowable."""
    for e in (a, b):
        code = "".join(seg for is_code, seg in _segments(e) if is_code)
        if _VOID_RISK.search(_NULL_TEST.sub(" ", code)):
            return True
    return False


def _merge_shapes(s1, s2):
    """Union of two shapes of the SAME logical type: a bare NULL on one
    side leaves a hole (None) the other side may fill — ``ROW(NULL, 2)
    = ROW(MAP(…), 0)`` must recurse the first field as a map, not fall
    back to Spark's (unorderable) scalar ``<>``."""
    if s1 is None:
        return s2
    if s2 is None:
        return s1
    if s1[0] != s2[0]:
        return s1
    if s1[0] == "double":
        return s1
    if s1[0] in ("array", "map"):
        return (s1[0], _merge_shapes(s1[1], s2[1]))
    if len(s1[1]) != len(s2[1]):
        return s1
    return (
        "struct",
        [
            (n1, _merge_shapes(f1, f2))
            for (n1, f1), (_, f2) in zip(s1[1], s2[1])
        ],
    )


def _merged_shape_of(types: dict, kind: str, exprs) -> object:
    merged = None
    for e in exprs:
        s = _operand_shape(e, types)
        if s and s[0] == kind:
            merged = _merge_shapes(merged, s) if merged else s
    return merged


def _elem_shape_of(types: dict, *exprs: str):
    """Merged element shape across every operand knowable as an array
    (ORDERING paths only — equality uses per-side pairs, since struct
    field NAMES must come from each operand's own type)."""
    s = _merged_shape_of(types, "array", exprs)
    return s[1] if s else None


def _vshape_of(types: dict, *exprs: str):
    """Merged value shape across every operand knowable as a map
    (ordering/float-detection paths only — see _elem_shape_of)."""
    s = _merged_shape_of(types, "map", exprs)
    return s[1] if s else None


def _field_shapes_of(types: dict, *exprs: str):
    """Merged per-field shapes across every operand knowable as a row
    (ordering paths only — see _elem_shape_of)."""
    s = _merged_shape_of(types, "struct", exprs)
    return [sh for _, sh in s[1]] if s else None


def _elem_shape_pair(types: dict, a: str, b: str):
    """PER-SIDE element shapes ``(ea, eb)`` for equality recursion —
    struct field names differ between a catalog column (``a, b``) and
    a ROW constructor (``col1, col2``), so each side must be accessed
    through its OWN shape (the review-confirmed r14 regression:
    applying one side's merged names to both raised FIELD_NOT_FOUND on
    comparisons that worked conflated in r13)."""
    sa = _operand_shape(a, types)
    sb = _operand_shape(b, types)
    ea = sa[1] if sa and sa[0] == "array" else None
    eb = sb[1] if sb and sb[0] == "array" else None
    return None if ea is None and eb is None else (ea, eb)


def _vshape_pair(types: dict, a: str, b: str):
    """Per-side map VALUE shapes for equality recursion."""
    sa = _operand_shape(a, types)
    sb = _operand_shape(b, types)
    va = sa[1] if sa and sa[0] == "map" else None
    vb = sb[1] if sb and sb[0] == "map" else None
    return None if va is None and vb is None else (va, vb)


def _field_shape_pairs(types: dict, a: str, b: str):
    """Per-side, per-field shape pairs for row-equality recursion, or
    None when neither side's struct shape is knowable (scalar-field
    fallback) or the knowable arities disagree."""
    sa = _operand_shape(a, types)
    sb = _operand_shape(b, types)
    fa = sa[1] if sa and sa[0] == "struct" else None
    fb = sb[1] if sb and sb[0] == "struct" else None
    if fa is None and fb is None:
        return None
    if fa is not None and fb is not None and len(fa) != len(fb):
        return None
    n = len(fa if fa is not None else fb)
    return [
        (
            fa[i][1] if fa is not None else None,
            fb[i][1] if fb is not None else None,
        )
        for i in range(n)
    ]


def _wrap_compatible(sa, sb) -> bool:
    """Is the ``IF(false, b, a)`` common-type coercion LEGAL for these
    per-side shapes?  Spark rejects an IF whose branches are structs
    with DIFFERENT field names (directly or nested) — and in exactly
    those cases no wrap is needed: neither side is a void hole, and
    the per-side recursion accesses each side through its own names."""
    if sa is None or sb is None:
        return True
    if sa[0] != sb[0]:
        return True
    if sa[0] == "struct":
        if [n for n, _ in sa[1]] != [n for n, _ in sb[1]] or len(
            sa[1]
        ) != len(sb[1]):
            return False
        return all(
            _wrap_compatible(f1, f2)
            for (_, f1), (_, f2) in zip(sa[1], sb[1])
        )
    if sa[0] in ("array", "map"):
        return _wrap_compatible(sa[1], sb[1])
    return True


def _eq_by_shape(a: str, b: str, sa, sb, d: int = 1) -> str:
    """Three-valued equality of ``a`` and ``b`` recursing through the
    PER-SIDE shapes (x72): Trino's equal operators delegate to the
    ELEMENT type's equal operator at every level, so a null two levels
    down still makes the outermost comparison unknown — pre-x72 the
    forms compared nested elements with Spark's null-conflating ``=``
    (ARRAY[ARRAY[1, NULL]] = ARRAY[ARRAY[1, NULL]] returned TRUE;
    Trino says NULL).  Shapes are PER SIDE because struct field names
    differ between a catalog column and a ROW constructor — each side
    is accessed through its OWN names.  ``d`` keeps nested lambda
    variables unique (shadowed names are rejected/ambiguous in HOF
    lambdas)."""
    s = sa or sb
    if s is None:
        return (
            f"IF(({a}) IS NULL OR ({b}) IS NULL, CAST(NULL AS BOOLEAN),"
            f" ({a}) = ({b}))"
        )
    kind = s[0]
    if kind == "array":
        return _array_eq_expr(
            a, b,
            (sa[1] if sa else None, sb[1] if sb else None),
            d,
        )
    if kind == "map":
        return _map_eq_expr(
            a, b,
            (sa[1] if sa else None, sb[1] if sb else None),
            d,
        )
    if kind == "double":
        # x74: float leaves compare IEEE — Trino's element equality
        # delegates to DoubleOperators.equal, so a NaN pair two levels
        # down decides the whole comparison FALSE (Spark's x = y said
        # equal).  _dbl_eq_expr is already exact three-valued.
        return _dbl_eq_expr(a, b)
    if (
        sa is not None
        and sb is not None
        and sa[0] == "struct"
        and sb[0] == "struct"
        and len(sa[1]) == len(sb[1])
    ):
        # both sides knowable: per-side names, positional field pairing
        la = [f"({a}).`{n}`" for n, _ in sa[1]]
        lb = [f"({b}).`{n}`" for n, _ in sb[1]]
        pairs = [(f1, f2) for (_, f1), (_, f2) in zip(sa[1], sb[1])]
        return _row_eq_expr(a, b, la, lb, pairs, d)
    if _needs_void_coercion(a, b):
        # one side is a NULL/empty hole: coerce to the known side's
        # type (legal — a void branch coerces to anything), then that
        # side's names address both
        a, b = f"IF(false, {b}, {a})", f"IF(false, {a}, {b})"
        la = [f"({a}).`{n}`" for n, _ in s[1]]
        lb = [f"({b}).`{n}`" for n, _ in s[1]]
        pairs = [(f, f) for _, f in s[1]]
        return _row_eq_expr(a, b, la, lb, pairs, d)
    # single-sided struct knowledge with no coercible hole: the other
    # side's runtime field names are unknowable — keep the conflating
    # scalar comparison (pre-x72 behavior, documented residue) rather
    # than risk FIELD_NOT_FOUND on valid SQL
    return (
        f"IF(({a}) IS NULL OR ({b}) IS NULL, CAST(NULL AS BOOLEAN),"
        f" ({a}) = ({b}))"
    )


_EMPTY_MAP_LITERAL = re.compile(
    r"(?is)\(*\s*map\s*\(\s*array\s*\(\s*\)\s*,\s*array\s*\(\s*\)\s*\)\s*\)*"
)


def _map_eq_expr(a: str, b: str, vshapes=None, d: int = 0) -> str:
    """Trino three-valued map equality (MapEqualOperator): size
    mismatch or a key absent from the other side → false; a decided
    unequal value pair → false; else any NULL value → NULL; else true.
    Spark has NO native map equality at all (INVALID_ORDERING_TYPE —
    a valid Trino query was a hard error), so this arm is reachability
    plus semantics.  Key lookups via element_at are safe: Spark's map
    element_at returns NULL on a missing key, and the key-coverage arm
    runs first.  ``vshapes`` is the PER-SIDE value-shape pair recursing
    complex VALUE types through the same three-valued forms (x72)."""
    sk = "k" if d == 0 else f"k_{d}"
    sp = "p" if d == 0 else f"p_{d}"
    # BOTH sides lexically empty-map or NULL literals: the common type
    # is still map<void,void> and every keyed arm is an analysis error
    # on VOID — but map keys cannot be NULL in either engine, so only
    # this all-literal case can stay void after coercion, and it is
    # statically decidable: NULL operand → NULL, two non-null empty
    # maps → EQUAL (Trino MapEqualOperator on zero entries)
    def _void_map_lit(e: str) -> bool:
        s = e.strip()
        while s.startswith("(") and s.endswith(")") and _balanced(s[1:-1]):
            s = s[1:-1].strip()
        return s.upper() == "NULL" or bool(_EMPTY_MAP_LITERAL.fullmatch(s))

    if _void_map_lit(a) and _void_map_lit(b):
        return (
            f"(CASE WHEN ({a}) IS NULL OR ({b}) IS NULL"
            f" THEN CAST(NULL AS BOOLEAN) ELSE true END)"
        )
    # common-type coercion for maps: an empty MAP(ARRAY[], ARRAY[])
    # literal types map<void,void>, and the key-coverage arm's
    # map_contains_key(other, k) rejects a VOID-typed lambda key at
    # analysis time (a valid Trino comparison was an error even before
    # the x72 recursion); the IF(false, …) wrap constant-folds to a
    # cast to the two sides' common type.  Void-risk-gated like the
    # array form (size discipline on comparison-heavy batches).
    vs = vshapes or (None, None)
    if _needs_void_coercion(a, b) and _wrap_compatible(vs[0], vs[1]):
        a, b = f"IF(false, {b}, {a})", f"IF(false, {a}, {b})"
    if vs[0] is None and vs[1] is None:
        pair = (
            f"IF(element_at({a}, {sk}) IS NULL OR element_at({b}, {sk}) IS"
            f" NULL, CAST(NULL AS BOOLEAN),"
            f" element_at({a}, {sk}) = element_at({b}, {sk}))"
        )
    else:
        pair = _eq_by_shape(
            f"element_at({a}, {sk})", f"element_at({b}, {sk})",
            vs[0], vs[1], d + 1,
        )
    zwv = f"transform(map_keys({a}), {sk} -> {pair})"
    # key coverage via array_except, not map_contains_key: the latter
    # rejects a VOID-typed key at analysis time (a nested all-void map
    # reaches this form through LAMBDA VARS, where the lexical
    # both-empty shortcut above cannot fire); under the size-equality
    # arm, one-directional key-set difference is equivalent
    return (
        f"(CASE WHEN ({a}) IS NULL OR ({b}) IS NULL THEN CAST(NULL AS BOOLEAN)"
        f" WHEN size({a}) <> size({b}) THEN false"
        f" WHEN size(array_except(map_keys({a}), map_keys({b}))) > 0"
        f" THEN false"
        f" WHEN array_contains({zwv}, false) THEN false"
        f" WHEN exists({zwv}, {sp} -> {sp} IS NULL) THEN CAST(NULL AS BOOLEAN)"
        f" ELSE true END)"
    )

_CLAUSE_KEYWORD = re.compile(
    r"(?i)[()]|\b(ON|WHERE|HAVING|SELECT|WHEN|THEN|ELSE|QUALIFY|BY|SET|USING)\b"
)


def _clause_keyword_positions(q: str, mask: List[bool]) -> List[tuple]:
    """Sorted (position, governing-keyword) CHANGE EVENTS, paren-aware
    (ADVICE r13): a clause keyword governs only positions inside its own
    still-open paren group, so the ``ON`` of an already-closed subquery
    (``WHERE EXISTS (… JOIN b ON a.id = b.id) AND arr = ARRAY[1]``) must
    not mask a comparison in the enclosing clause.  One stack scan per
    pass: ``(`` inherits the enclosing keyword, ``)`` restores it (an
    event when it differs), a keyword replaces the top; per-candidate
    lookup bisects for the last event before the position."""
    events: List[tuple] = []
    stack = [""]
    for m in _CLAUSE_KEYWORD.finditer(q):
        i = m.start()
        if not mask[i]:
            continue
        tok = m.group(0)
        if tok == "(":
            stack.append(stack[-1])
        elif tok == ")":
            inner = stack.pop() if len(stack) > 1 else stack[-1]
            if inner != stack[-1]:
                events.append((i, stack[-1]))
        else:
            kw = m.group(1).upper()
            if stack[-1] != kw:
                stack[-1] = kw
                events.append((i, kw))
    return events


def _nearest_clause_is_on(clauses: List[tuple], pos: int) -> bool:
    """True when the clause governing ``pos`` is ``ON`` — i.e. the
    comparison is a JOIN condition.  Rewriting an equi-condition into a
    CASE would demote the hash join to a nested loop (a scale-killer),
    so join keys keep Spark's null-element equality as documented
    residue; AND/OR/NOT don't reset the clause, and a closed paren
    group's keywords don't leak into the enclosing clause."""
    from bisect import bisect_left

    i = bisect_left(clauses, (pos, "")) - 1
    return i >= 0 and clauses[i][1] == "ON"


def _struct_fields_from_type(t: str) -> Optional[List[str]]:
    """Field names of a Spark catalog type string
    ``struct<a:int,b:struct<c:int>>`` (top-level split, <> aware)."""
    if not t.startswith("struct<") or not t.endswith(">"):
        return None
    body = t[len("struct<") : -1]
    names, depth, last = [], 0, 0
    for i, c in enumerate(body):
        if c == "<":
            depth += 1
        elif c == ">":
            depth -= 1
        elif c == "," and depth == 0:
            names.append(body[last:i])
            last = i + 1
    names.append(body[last:])
    out = []
    for part in names:
        name = part.split(":", 1)[0].strip()
        if not name:
            return None
        out.append(name)
    return out


def _row_cast_fields(target: str) -> Optional[List[str]]:
    """Field names of a Trino ``ROW(a INTEGER, b VARCHAR(3))`` cast
    target spelling (top-level split, () aware)."""
    m = re.fullmatch(r"(?is)ROW\s*\((.*)\)", target.strip())
    if m is None:
        return None
    parts = _split_top_args(m.group(1))
    out = []
    for part in parts:
        nm = re.match(r"\s*([A-Za-z_][A-Za-z0-9_]*)\s+\S", part)
        if nm is None:
            return None
        out.append(nm.group(1))
    return out


def _operand_row_accessors(expr: str, types: dict) -> Optional[List[str]]:
    """Per-field accessor expressions when ``expr`` is a lexically-
    knowable ROW operand: constructors destructure to their argument
    expressions; catalog struct columns and ROW-cast targets produce
    ``(expr).`field``` accessors.  None when not knowable."""
    e = expr.strip()
    if not e:
        return None
    if e.startswith("(") and e.endswith(")"):
        inner = e[1:-1].strip()
        if _balanced(inner):
            return _operand_row_accessors(inner, types)
        return None
    name = _whole_call_name_any(e)
    if name in ("row", "struct"):
        b0 = e.index("(") + 1
        args = _split_top_args(e[b0:-1])
        return [f"({a.strip()})" for a in args] or None
    if name == "named_struct":
        b0 = e.index("(") + 1
        args = _split_top_args(e[b0:-1])
        if len(args) % 2:
            return None
        return [f"({a.strip()})" for a in args[1::2]] or None
    if name in ("cast", "try_cast"):
        target = _cast_target_of(e)
        if target != "row":
            return None
        m = re.fullmatch(r"(?is)(?:CAST|TRY_CAST)\s*\((.*)\)", e)
        if m is None:
            return None
        body = m.group(1)
        as_at = _split_cast_body(body)
        if as_at is None:
            return None
        fields = _row_cast_fields(body[as_at.end() :])
        if fields is None:
            return None
        return [f"({e}).`{f}`" for f in fields]
    if _IDENT_CHAIN.fullmatch(e):
        t = types.get(e.rsplit(".", 1)[-1].lower(), "")
        fields = _struct_fields_from_type(t)
        if fields is None:
            return None
        return [f"({e}).`{f}`" for f in fields]
    return None


def _row_eq_expr(
    a: str, b: str, la: List[str], lb: List[str], shapes=None, d: int = 0
) -> str:
    """Trino three-valued ROW equality (RowEqualOperator): any
    decided-unequal field → false; else any null field on either side
    → NULL; else true.  ``shapes`` (one PER-SIDE PAIR per field, None =
    scalar) recurses complex FIELD types through the same three-valued
    forms (x72) — pre-x72 a nested null (ROW(ROW(1, NULL)) = itself)
    compared with Spark's conflating ``<>`` and decided TRUE where
    Trino says NULL."""
    if shapes is None:
        shapes = [None] * len(la)
    decided_arms, undecided_arms = [], []
    for x, y, s in zip(la, lb, shapes):
        sl, sr = s if s is not None else (None, None)
        if sl is None and sr is None:
            decided_arms.append(
                f"({x} IS NOT NULL AND {y} IS NOT NULL AND {x} <> {y})"
            )
            undecided_arms.append(f"{x} IS NULL OR {y} IS NULL")
        else:
            fe = _eq_by_shape(x, y, sl, sr, d + 1)
            decided_arms.append(f"({fe}) IS FALSE")
            undecided_arms.append(f"({fe}) IS NULL")
    decided = " OR ".join(decided_arms)
    undecided = " OR ".join(undecided_arms)
    return (
        f"(CASE WHEN ({a}) IS NULL OR ({b}) IS NULL THEN CAST(NULL AS BOOLEAN)"
        f" WHEN {decided} THEN false"
        f" WHEN {undecided} THEN CAST(NULL AS BOOLEAN)"
        f" ELSE true END)"
    )


def _row_ord_expr(
    a: str, b: str, la: List[str], lb: List[str], op: str, shapes=None
) -> str:
    """Trino lexicographic ROW comparison (RowComparisonOperators):
    fields in declared order, checkFieldNotNull at each visited field
    (null → raise), first differing field decides, all-equal falls to
    the operator's reflexivity.  x75: ``("double",)`` field shapes make
    the per-field differing test and decision IEEE (a NaN field pair
    differs and decides FALSE — Spark's ``<>`` skipped it and its
    ordering ranked NaN largest)."""
    strict = {"<": "<", "<=": "<", ">": ">", ">=": ">"}[op]
    if shapes is None:
        shapes = [None] * len(la)
    arms = []
    for x, y, s in zip(la, lb, shapes):
        if s is not None and s[0] == "double":
            differ = f"({x} <> {y}) OR (isnan({x}) AND isnan({y}))"
            decide = (
                f"(({x} {strict} {y}) AND NOT (isnan({x}) OR isnan({y})))"
            )
        else:
            differ = f"{x} <> {y}"
            decide = f"{x} {strict} {y}"
        arms.append(
            f" WHEN {x} IS NULL OR {y} IS NULL"
            f" THEN CAST(raise_error('{_ROW_CMP_MSG}') AS BOOLEAN)"
            f" WHEN {differ} THEN {decide}"
        )
    tail = "true" if op in ("<=", ">=") else "false"
    return (
        f"(CASE WHEN ({a}) IS NULL OR ({b}) IS NULL THEN CAST(NULL AS BOOLEAN)"
        f"{''.join(arms)} ELSE {tail} END)"
    )


def _right_operand_end(q: str, mask: List[bool], pos: int) -> Optional[int]:
    """End index (exclusive) of the expression starting at/after
    ``pos``: one primary (ident chain + optional call parens, paren
    group, string/number literal), chained across top-level ``||``.
    None when nothing parseable starts there."""
    n = len(q)

    def skip_ws(i):
        while i < n and q[i].isspace():
            i += 1
        return i

    def primary(i):
        i = skip_ws(i)
        if i >= n:
            return None
        if not mask[i]:  # string literal: walk the non-code run
            j = i
            while j < n and not mask[j]:
                j += 1
            return j
        c = q[i]
        if c == "(":
            depth, j = 1, i + 1
            while j < n and depth:
                if mask[j]:
                    if q[j] == "(":
                        depth += 1
                    elif q[j] == ")":
                        depth -= 1
                j += 1
            return j if depth == 0 else None
        if c.isdigit():
            j = i
            while j < n and (q[j].isalnum() or q[j] in "._"):
                j += 1
            return j
        if c.isalpha() or c == "_":
            j = i
            while j < n and (q[j].isalnum() or q[j] in "._$"):
                j += 1
            k = skip_ws(j)
            if k < n and q[k] == "(":
                depth, j2 = 1, k + 1
                while j2 < n and depth:
                    if mask[j2]:
                        if q[j2] == "(":
                            depth += 1
                        elif q[j2] == ")":
                            depth -= 1
                    j2 += 1
                return j2 if depth == 0 else None
            return j
        return None

    end = primary(pos)
    if end is None:
        return None
    while True:
        k = skip_ws(end)
        if k + 1 < n and q[k] == "|" and q[k + 1] == "|" and mask[k]:
            nxt = primary(k + 2)
            if nxt is None:
                return end
            end = nxt
        else:
            return end


def _array_eq_expr(a: str, b: str, elem_shapes=None, d: int = 0) -> str:
    """Trino three-valued array equality: length mismatch → false;
    any decided-unequal pair → false; else any null element → NULL;
    else true (ArrayEqualOperator).  ``elem_shapes`` is the PER-SIDE
    element-shape pair recursing complex ELEMENT types through the
    same forms (x72) — pre-x72 the lambda's ``x = y`` conflated nested
    nulls (ARRAY[ARRAY[1, NULL]] = itself returned TRUE; Trino says
    NULL).  ``d`` uniquifies nested lambda variables."""
    sx = "x" if d == 0 else f"x_{d}"
    sy = "y" if d == 0 else f"y_{d}"
    sp = "p" if d == 0 else f"p_{d}"
    # coerce both sides to their COMMON type first: a bare NULL operand
    # (a struct-field hole under x72 recursion) is rejected by zip_with
    # at analysis time, and an empty/all-NULL literal types array<void>,
    # breaking the recursion's field extraction — the IF(false, …) wrap
    # constant-folds to a cast (Trino types such literals from context
    # the same way).  Applied only when an operand's text could carry
    # VOID (unconditionally it doubles operand text per level and trips
    # the 1 MB guard on comparison-heavy batches) AND the per-side
    # shapes are wrap-compatible (Spark rejects an IF over structs with
    # differing field names — exactly when no coercion is needed).
    es = elem_shapes or (None, None)
    if _needs_void_coercion(a, b) and _wrap_compatible(es[0], es[1]):
        a, b = f"IF(false, {b}, {a})", f"IF(false, {a}, {b})"
    if es[0] is None and es[1] is None:
        pair = (
            f"IF({sx} IS NULL OR {sy} IS NULL, CAST(NULL AS BOOLEAN),"
            f" {sx} = {sy})"
        )
    else:
        pair = _eq_by_shape(sx, sy, es[0], es[1], d + 1)
    zw = f"zip_with({a}, {b}, ({sx}, {sy}) -> {pair})"
    return (
        f"(CASE WHEN ({a}) IS NULL OR ({b}) IS NULL THEN CAST(NULL AS BOOLEAN)"
        f" WHEN size({a}) <> size({b}) THEN false"
        f" WHEN array_contains({zw}, false) THEN false"
        f" WHEN exists({zw}, {sp} -> {sp} IS NULL) THEN CAST(NULL AS BOOLEAN)"
        f" ELSE true END)"
    )


def _array_ord_expr(a: str, b: str, op: str, elem_shape=None) -> str:
    """Trino lexicographic array comparison: scan pairwise to the first
    null-or-differing position; a null THERE raises (checkElementNotNull
    — positions past the decision are never visited), a differing pair
    decides, an exhausted common prefix falls back to length comparison
    (ArrayOperators lessThan/lessThanOrEqual et al.).

    x75: a ``("double",)`` element shape makes the scan IEEE — Trino's
    per-element equal/lessThan are Java primitives, so a NaN pair IS
    the first differing position (equal is false) and decides FALSE,
    and ``2.0 < NaN`` inside the decision is false — where Spark's
    ``<>`` treated a NaN pair as equal (skipping it) and its ``<``
    ordered NaN largest.

    Residue (documented, r14): ordering does NOT recurse COMPLEX
    shapes the way equality does (x72) — for arrays-of-arrays/rows,
    the first-differing scan uses Spark's conflating ``<>`` on the
    nested elements, so a null INSIDE a nested element returns a value
    where Trino raises its not-supported error.  Values agree whenever
    no nested null is visited; that divergence is error-parity only,
    on an already-rare nested-ordering form."""
    strict = {"<": "<", "<=": "<", ">": ">", ">=": ">"}[op]
    is_dbl = elem_shape is not None and elem_shape[0] == "double"
    nmin = f"least(size({a}), size({b}))"
    differ = "p.lx IS NULL OR p.rx IS NULL OR p.lx <> p.rx"
    if is_dbl:
        differ += " OR (isnan(p.lx) AND isnan(p.rx))"
    df = (
        f"filter(zip_with(slice({a}, 1, {nmin}), slice({b}, 1, {nmin}),"
        f" (x, y) -> named_struct('lx', x, 'rx', y)),"
        f" p -> {differ})"
    )
    decide = f"get({df}, 0).lx {strict} get({df}, 0).rx"
    if is_dbl:
        decide = (
            f"({decide}) AND NOT (isnan(get({df}, 0).lx)"
            f" OR isnan(get({df}, 0).rx))"
        )
    return (
        f"(CASE WHEN ({a}) IS NULL OR ({b}) IS NULL THEN CAST(NULL AS BOOLEAN)"
        f" WHEN size({df}) = 0 THEN size({a}) {op} size({b})"
        f" WHEN get({df}, 0).lx IS NULL OR get({df}, 0).rx IS NULL"
        f" THEN CAST(raise_error('{_ARRAY_CMP_MSG}') AS BOOLEAN)"
        f" ELSE {decide} END)"
    )


def _rewrite_array_comparisons(q: str, column_types: dict) -> str:
    """Trino's array comparisons vs Spark's (round-13 probe catches,
    both silent on Trino-valid queries):

    - equality: Trino is THREE-VALUED — ``ARRAY[1, NULL] =
      ARRAY[1, NULL]`` is NULL (undecided pairs with null elements),
      false only on a decided unequal pair or length mismatch
      (ArrayEqualOperator) — where Spark's ``=`` treats null elements
      as equal values and returns TRUE.
    - ordering: Trino scans to the first differing position and RAISES
      "ARRAY comparison not supported for arrays with null elements"
      if a null is visited first (ArrayOperators.lessThan's
      checkElementNotNull), with a length tiebreak on an equal common
      prefix — where Spark orders nulls as smallest and returns a
      value.

    ROW comparisons diverge the same two ways (RowEqualOperator /
    RowComparisonOperators — "ROW comparison not supported for fields
    with null elements") and are rewritten when BOTH operands
    destructure lexically with equal arity: ROW()/struct()
    constructors destructure to their argument expressions,
    named_struct() to its value arguments, catalog struct columns and
    ROW-cast targets to ``(expr).`field``` accessors.

    Arrays rewrite when either operand is lexically knowable (array-
    returning whole calls — the post-ARRAY[]-pass ``array(...)``
    spelling included — catalog array columns, ``||`` concat chains;
    both operands of a comparison share one type, so one knowable side
    suffices).  ``<>``/``!=`` is the three-valued NOT of equality.
    ``<=>`` (Spark's null-safe spelling, not Trino syntax) is skipped;
    unknowable operands (function results outside the whitelist,
    subscript results) keep Spark semantics — the x47 residue
    contract.  Residue: elements/fields that are THEMSELVES
    arrays/rows compare by Spark's nested rules inside the generated
    comparisons.  Certified by x65/x66; the randomized sweeps in
    tests/test_differential_semantics.py cross lengths, null
    positions, and all six operators against Python references.

    Reference parity: Trino ArrayEqualOperator / ArrayOperators /
    RowEqualOperator / RowComparisonOperators, text forwarded verbatim
    (internal/trino/client.go:284-291).
    """
    # UPDATE/MERGE SET-lists spell assignments with `=` — skip those
    # statements wholesale rather than misread an assignment as a
    # comparison (their WHERE clauses keep Spark array semantics —
    # documented residue)
    if re.match(r"(?is)\s*(UPDATE|MERGE)\b", q):
        return q
    types = {str(k).lower(): str(v).lower() for k, v in column_types.items()}
    # single scan, replacements applied right-to-left: the emitted text
    # contains comparisons only on lambda variables (unknowable — never
    # re-matched), and one mask serves the whole pass instead of a
    # recompute per hit (a 200-comparison batch would otherwise scan
    # O(hits × len))
    mask = _code_mask(q)
    n = len(q)
    clauses = _clause_keyword_positions(q, mask)
    hits = []
    i = 0
    while i < n:
        if not mask[i] or q[i] not in "<>=!":
            i += 1
            continue
        if q[i : i + 3] == "<=>":
            i += 3
            continue
        two = q[i : i + 2]
        if two == "=>":  # named-argument arrow, not a comparison
            i += 2
            continue
        if two in ("<=", ">=", "<>", "!="):
            op = two
        elif q[i] in "<>=":
            # skip lambda arrows and the tails of two-char ops
            if q[i] == ">" and i > 0 and q[i - 1] in "-=<":
                i += 1
                continue
            if q[i] == "=" and i > 0 and q[i - 1] in "<>!":
                i += 1
                continue
            op = q[i]
        else:
            i += 1
            continue
        try:
            lstart = _left_operand_start(q, mask, i)
        except Exception:
            i += len(op)
            continue
        left = q[lstart:i].strip()
        if re.match(r"(?is)\s*(ANY|ALL|SOME)\s*\(", q[i + len(op) :]):
            # quantified comparison — _rewrite_quantified_comparisons
            # owns these downstream
            i += len(op)
            continue
        rend = _right_operand_end(q, mask, i + len(op))
        if rend is None:
            i += len(op)
            continue
        right = q[i + len(op) : rend].strip()
        if re.match(r"(?is)\(\s*(SELECT|WITH)\b", right) or re.match(
            r"(?is)\(\s*(SELECT|WITH)\b", left
        ):
            # scalar-subquery operand: duplicating it inside
            # zip_with/filter would re-plan it per copy — skip
            # (documented residue, same class as x47 unknowables)
            i += len(op)
            continue
        if _nearest_clause_is_on(clauses, lstart):
            i += len(op)
            continue
        is_array = _operand_is_array(left, types) or _operand_is_array(
            right, types
        )
        is_map = False
        row_la = row_lb = None
        if not is_array and op in ("=", "<>", "!="):
            is_map = _operand_is_map(left, types) or _operand_is_map(
                right, types
            )
        if not is_array and not is_map:
            # ROW comparison: BOTH sides must destructure (field
            # accessors come from each side's own spelling) with equal
            # arity — else leave Spark semantics (documented residue)
            row_la = _operand_row_accessors(left, types)
            row_lb = _operand_row_accessors(right, types)
            if (
                row_la is None
                or row_lb is None
                or len(row_la) != len(row_lb)
            ):
                i += len(op)
                continue
        if _has_nondeterministic_call(left) or _has_nondeterministic_call(
            right
        ):
            i += len(op)
            continue
        hits.append((lstart, rend, left, right, op, row_la, row_lb, is_map))
        i = rend  # comparisons never nest without booleans between
    for lstart, rend, left, right, op, row_la, row_lb, is_map in reversed(
        hits
    ):
        if is_map:
            vs = _vshape_pair(types, left, right)
            repl = (
                _map_eq_expr(left, right, vs)
                if op == "="
                else f"(NOT {_map_eq_expr(left, right, vs)})"
            )
        elif row_la is not None:
            if op in ("=", "<>", "!="):
                fs = _field_shape_pairs(types, left, right)
                if op == "=":
                    repl = _row_eq_expr(left, right, row_la, row_lb, fs)
                else:
                    repl = (
                        f"(NOT "
                        f"{_row_eq_expr(left, right, row_la, row_lb, fs)})"
                    )
            else:
                repl = _row_ord_expr(
                    left, right, row_la, row_lb, op,
                    _field_shapes_of(types, left, right),
                )
        elif op == "=":
            repl = _array_eq_expr(
                left, right, _elem_shape_pair(types, left, right)
            )
        elif op in ("<>", "!="):
            repl = (
                f"(NOT {_array_eq_expr(left, right, _elem_shape_pair(types, left, right))})"
            )
        else:
            repl = _array_ord_expr(
                left, right, op, _elem_shape_of(types, left, right)
            )
        q = q[:lstart] + repl + q[rend:]
    return q


_IN_LIST_HEAD = re.compile(r"(?i)\b(NOT\s+)?IN\s*\(")


def _rewrite_array_in_lists(q: str, column_types: dict) -> str:
    """``a IN (b, c)`` over arrays/rows/maps — Trino evaluates IN as
    chained equality with three-valued OR, so ``ARRAY[1, NULL] IN
    (ARRAY[1, NULL])`` is NULL where Spark's IN (its null-conflating
    array equality again) says TRUE.  For a knowable complex left
    operand (or an all-knowable item list) the IN list respells to the
    OR of the x65/x66/x67 equality forms; NOT IN is the three-valued
    NOT.  Subquery lists (``IN (SELECT …)``), JOIN ON contexts, and
    row items that don't all destructure keep Spark semantics — the
    same residue contract as the comparison pass.  Runs AFTER
    _rewrite_array_comparisons with the same single-scan
    apply-right-to-left shape."""
    if re.match(r"(?is)\s*(UPDATE|MERGE)\b", q):
        return q
    types = {str(k).lower(): str(v).lower() for k, v in column_types.items()}
    mask = _code_mask(q)
    clauses = _clause_keyword_positions(q, mask)
    edits = []
    for m in _IN_LIST_HEAD.finditer(q):
        if not mask[m.start()]:
            continue
        body_start = m.end()
        close = _paren_close(q, body_start)
        if close < 0:
            continue
        body = q[body_start:close]
        if re.match(r"(?is)\s*(SELECT|WITH)\b", body):
            continue
        try:
            lstart = _left_operand_start(q, mask, m.start())
        except Exception:
            continue
        left = q[lstart : m.start()].strip()
        if _nearest_clause_is_on(clauses, lstart):
            continue
        items = [s.strip() for s in _split_top_args(body)]
        if not items:
            continue
        if _has_nondeterministic_call(left) or any(
            _has_nondeterministic_call(it) for it in items
        ):
            continue
        neg = bool(m.group(1))
        eqs = None
        # shapes are PER PAIR (left, item): merging across items would
        # attach a richer shape than a given pair materializes, and the
        # recursion's extraction is an analysis error on that pair's
        # VOID-typed holes
        if _operand_is_array(left, types) or all(
            _operand_is_array(it, types) for it in items
        ):
            eqs = [
                _array_eq_expr(left, it, _elem_shape_pair(types, left, it))
                for it in items
            ]
        elif _operand_is_map(left, types) or all(
            _operand_is_map(it, types) for it in items
        ):
            eqs = [
                _map_eq_expr(left, it, _vshape_pair(types, left, it))
                for it in items
            ]
        else:
            la = _operand_row_accessors(left, types)
            if la is not None:
                lbs = [_operand_row_accessors(it, types) for it in items]
                if all(lb is not None and len(lb) == len(la) for lb in lbs):
                    eqs = [
                        _row_eq_expr(
                            left, it, la, lb,
                            _field_shape_pairs(types, left, it),
                        )
                        for it, lb in zip(items, lbs)
                    ]
            if (
                eqs is None
                and _operand_fp_kind(left, types) == "double"
                and _maybe_nan_operand(left, types)
                and not _is_subquery_operand(left)
                and any(
                    _maybe_nan_operand(it, types)
                    and not _is_subquery_operand(it)
                    for it in items
                )
            ):
                # x73 float arm: Spark IN matches NaN against a NaN
                # item; Trino's chained IEEE equality never does.
                # Subquery items keep plain equality (the guard form
                # duplicates operand text — re-planning per copy)
                eqs = [
                    _dbl_eq_expr(left, it)
                    if _maybe_nan_operand(it, types)
                    and not _is_subquery_operand(it)
                    else f"(({left}) = ({it}))"
                    for it in items
                ]
        if eqs is None:
            continue
        repl = "(" + " OR ".join(eqs) + ")"
        if neg:
            repl = f"(NOT {repl})"
        edits.append((lstart, close + 1, repl))
    # IN lists never nest inside one another's operands here (an item
    # containing its own complex IN would need a knowable operand
    # inside a call — not destructurable), but guard against overlap
    last = None
    for start, end, text in sorted(edits, key=lambda e: -e[0]):
        if last is not None and end > last:
            continue
        q = q[:start] + text + q[end:]
        last = start
    return q


_CASE_KW = re.compile(r"(?i)\b(CASE|WHEN|THEN|ELSE|END)\b")


def _rewrite_complex_simple_case(q: str, column_types: dict) -> str:
    """Simple CASE over a complex operand — ``CASE arr WHEN ARRAY[1,
    NULL] THEN …`` — is sugar for chained equality, so it inherits the
    same divergence the comparison pass closes: Spark's null-conflating
    array/struct equality can take a branch Trino's three-valued
    equality would skip (a NULL comparison is NOT a match).  For a
    knowable complex operand the CASE respells to its SEARCHED form
    with the x65/x66/x67 equality expressions as conditions; WHEN
    values that don't destructure (rows) or a non-complex operand
    leave the CASE untouched.  Nested CASEs inside the operand or
    values are tracked by case-depth so only top-level WHEN/THEN/END
    split the statement."""
    if re.match(r"(?is)\s*(UPDATE|MERGE)\b", q):
        return q
    types = {str(k).lower(): str(v).lower() for k, v in column_types.items()}
    mask = _code_mask(q)

    def tokens(start):
        """(kw, pos) stream of top-level CASE keywords from ``start``
        (paren- and nested-CASE-aware)."""
        depth = 0
        case_depth = 0
        i = start
        n = len(q)
        while i < n:
            if mask[i]:
                c = q[i]
                if c == "(":
                    depth += 1
                elif c == ")":
                    if depth == 0:
                        return
                    depth -= 1
                elif depth == 0 and (c.isalpha() or c == "_"):
                    m = _CASE_KW.match(q, i)
                    if m and not (
                        i > 0 and (q[i - 1].isalnum() or q[i - 1] in "_$")
                    ):
                        kw = m.group(1).upper()
                        if kw == "CASE":
                            case_depth += 1
                        elif kw == "END":
                            if case_depth == 0:
                                yield ("END", i, m.end())
                                return
                            case_depth -= 1
                        elif case_depth == 0:
                            yield (kw, i, m.end())
                        i = m.end()
                        continue
                    while i < n and (q[i].isalnum() or q[i] in "_$"):
                        i += 1
                    continue
            i += 1

    edits = []
    for cm in re.finditer(r"(?i)\bCASE\b", q):
        if not mask[cm.start()] or (
            cm.start() > 0 and (q[cm.start() - 1].isalnum() or q[cm.start() - 1] in "_$")
        ):
            continue
        toks = list(tokens(cm.end()))
        if not toks or toks[-1][0] != "END":
            continue
        first = toks[0]
        if first[0] != "WHEN":
            continue  # END-before-WHEN malformed; handled by Spark
        operand = q[cm.end() : first[1]].strip()
        if not operand:
            continue  # searched CASE
        arr = _operand_is_array(operand, types)
        mp = not arr and _operand_is_map(operand, types)
        la = (
            None
            if (arr or mp)
            else _operand_row_accessors(operand, types)
        )
        fp = False
        if not arr and not mp and la is None:
            # x73 float arm: simple CASE matches via equality, so a
            # NaN operand meeting a NaN WHEN value matches in Spark
            # (NaN-equal) but not in Trino (IEEE)
            fp = (
                _operand_fp_kind(operand, types) == "double"
                and _maybe_nan_operand(operand, types)
                and not _is_subquery_operand(operand)
            )
            if not fp:
                continue
        if _has_nondeterministic_call(operand):
            continue
        # collect (WHEN value, THEN pos) pairs at top level
        parts = []
        ok = True
        idx = 0
        while idx < len(toks):
            kw, pos, kend = toks[idx]
            if kw in ("ELSE", "END"):
                break
            if kw != "WHEN" or idx + 1 >= len(toks) or toks[idx + 1][0] != "THEN":
                ok = False
                break
            val = q[kend : toks[idx + 1][1]].strip()
            parts.append((pos, kend, toks[idx + 1][1], val))
            idx += 2
        if not ok or not parts:
            continue
        if fp and not any(
            _maybe_nan_operand(v, types) and not _is_subquery_operand(v)
            for *_, v in parts
        ):
            continue  # every WHEN value finite — Spark CASE agrees
        conds = []
        for _, _, _, val in parts:
            if _has_nondeterministic_call(val):
                ok = False
                break
            if fp:
                conds.append(
                    _dbl_eq_expr(operand, val)
                    if _maybe_nan_operand(val, types)
                    and not _is_subquery_operand(val)
                    else f"(({operand}) = ({val}))"
                )
            elif arr:
                conds.append(
                    _array_eq_expr(
                        operand, val, _elem_shape_pair(types, operand, val)
                    )
                )
            elif mp:
                conds.append(
                    _map_eq_expr(
                        operand, val, _vshape_pair(types, operand, val)
                    )
                )
            else:
                lb = _operand_row_accessors(val, types)
                if lb is None or len(lb) != len(la):
                    ok = False
                    break
                conds.append(
                    _row_eq_expr(
                        operand, val, la, lb,
                        _field_shape_pairs(types, operand, val),
                    )
                )
        if not ok:
            continue
        # searched form: drop the operand, replace each WHEN value with
        # its equality condition (right-to-left within this CASE)
        for (wpos, wend, tpos, _), cond in zip(reversed(parts), reversed(conds)):
            edits.append((wend, tpos, f" {cond} "))
        edits.append((cm.end(), first[1], " "))
    last = None
    for start, end, text in sorted(edits, key=lambda e: -e[0]):
        if last is not None and end > last:
            continue
        q = q[:start] + text + q[end:]
        last = start
    return q


_NULLIF_HEAD = re.compile(r"\bnullif\s*\(", re.IGNORECASE)


def _rewrite_complex_nullif(q: str, column_types: dict) -> str:
    """``nullif(a, b)`` over complex operands — the last equality
    context: Trino returns NULL only when the equality is decided TRUE
    (an undecided NULL comparison returns ``a``), while Spark's nullif
    desugars to its null-conflating ``a = b`` — ``nullif(ARRAY[1,NULL],
    ARRAY[1,NULL])`` was NULL where Trino returns the array — and on
    MAP operands Spark has no equality at all (a valid Trino call was
    a hard INVALID_ORDERING_TYPE error).  Knowable complex operands
    respell to ``CASE WHEN <eq> THEN NULL ELSE a END`` over the
    x65/x66/x67 equality forms (the ELSE also catches the undecided
    case — exactly Trino's contract).  Scalar nullif is untouched."""
    types = {str(k).lower(): str(v).lower() for k, v in column_types.items()}
    pos = 0
    while True:
        found = _find_call(q, _NULLIF_HEAD, pos)
        if found is None:
            return q
        m, b0, b1 = found
        args = _split_top_args(q[b0:b1])
        if len(args) != 2:
            pos = b1
            continue
        a, b = (s.strip() for s in args)
        if _has_nondeterministic_call(a) or _has_nondeterministic_call(b):
            pos = b1
            continue
        eq = None
        if _operand_is_array(a, types) or _operand_is_array(b, types):
            eq = _array_eq_expr(a, b, _elem_shape_pair(types, a, b))
        elif _operand_is_map(a, types) or _operand_is_map(b, types):
            eq = _map_eq_expr(a, b, _vshape_pair(types, a, b))
        else:
            la = _operand_row_accessors(a, types)
            lb = _operand_row_accessors(b, types)
            if la is not None and lb is not None and len(la) == len(lb):
                eq = _row_eq_expr(
                    a, b, la, lb, _field_shape_pairs(types, a, b)
                )
            elif (
                "double" in (
                    _operand_fp_kind(a, types), _operand_fp_kind(b, types)
                )
                and _maybe_nan_operand(a, types)
                and _maybe_nan_operand(b, types)
                and not _is_subquery_operand(a)
                and not _is_subquery_operand(b)
            ):
                # x73 float arm: nullif desugars to equality, so
                # nullif(nan(), nan()) was NULL here (Spark NaN-equal)
                # where Trino's IEEE inequality returns the first arg
                eq = _dbl_eq_expr(a, b)
        if eq is None:
            pos = b1
            continue
        repl = f"(CASE WHEN {eq} THEN NULL ELSE {a} END)"
        q = q[: m.start()] + repl + q[b1 + 1 :]
        pos = m.start() + len(repl)


_UPPER_HEAD = re.compile(r"\bupper\s*\(", re.IGNORECASE)
_LOWER_HEAD = re.compile(r"\blower\s*\(", re.IGNORECASE)

#: (divergent, pua, simple-upper) strings for the upper() shield:
#: divergent = code points whose FULL uppercase mapping is multi-char —
#: exactly where Trino's simple 1:1 mapping diverges from Spark's Java
#: full mapping (ß→SS, ﬁ→FI, ŉ, Greek iota subscripts, Armenian
#: ligatures, …).  102 BMP code points (the scan is bounded to the BMP:
#: every SpecialCasing multi-char expansion is BMP in current Unicode —
#: supplementary-plane case pairs are all 1:1).  The back-map is each
#: code point's SIMPLE uppercase, not identity: for 54 of the 102
#: (the ypogegrammeni letters ᾀ…ῳ) UnicodeData's simple uppercase is
#: the single TITLECASE capital (ᾳ → ᾼ), which Python exposes as
#: str.title(); the rest (ß, ligatures, …) have no simple mapping and
#: stay themselves.  Computed lazily from Python's own Unicode tables
#: (same UnicodeData/SpecialCasing source Java uses).
_CASE_SHIELD: List[tuple] = []


def _case_shield() -> tuple:
    if not _CASE_SHIELD:
        div = [cp for cp in range(0x10000) if len(chr(cp).upper()) > 1]
        back = []
        for cp in div:
            t = chr(cp).title()
            back.append(t if len(t) == 1 else chr(cp))
        _CASE_SHIELD.append((
            "".join(chr(cp) for cp in div),
            "".join(chr(0xE000 + i) for i in range(len(div))),
            "".join(back),
        ))
    return _CASE_SHIELD[0]


def _rewrite_simple_case(q: str) -> str:
    """Trino ``upper()``/``lower()`` map each code point 1:1 via
    Character.toUpperCase/toLowerCase (airlift SliceUtf8), while
    Spark's builtins apply Java's FULL Unicode mapping:
    ``upper('straße')`` was silently 'STRASSE' where Trino returns
    'STRAßE', and ``lower('İ')`` was 'i'+COMBINING DOT where Trino
    returns the bare 'i' — a silent divergence on any German/Turkish/
    Greek-bearing corpus.

    The mappings differ on a tiny fixed set, so both rewrites stay
    pure JVM (whole-stage codegen, legal inside higher-order-function
    lambdas where a Python UDF is not):

    - ``lower(x)`` → ``lcase(translate(x, 'İΣ', 'iσ'))`` — U+0130 is
      the only code point whose full lowercase is multi-char, and
      Σ is the only CONDITIONAL one (Java's Final_Sigma rule lowers
      word-final Σ to ς where Trino's per-code-point mapping always
      gives σ); pre-translating both leaves lcase's full mapping
      equal to the simple one everywhere else.
    - ``upper(x)`` → ``translate(ucase(translate(x, <102 divergent
      chars>, <PUA shield>)), <PUA shield>, <their simple
      uppercase>)`` — divergent code points (full mapping
      multi-char) hide behind case-invariant private-use-area chars
      U+E000.. while ucase runs, then map to their SIMPLE uppercase:
      identity for ß/ligatures (no simple mapping), the titlecase
      capital for the 54 Greek ypogegrammeni letters (ᾳ → ᾼ, Java
      Character.toUpperCase's answer).  Residue: an input already
      containing U+E000–U+E065 (application-private by definition)
      would map into the divergent set.  Spelled ``ucase``/``lcase``
      so this pass never re-matches its own output.

    Reference parity: Trino StringFunctions.upper/lower →
    SliceUtf8.toUpperCase/toLowerCase; text forwarded verbatim
    (internal/trino/client.go:284-291).
    """
    pos = 0
    while True:
        found = _find_call(q, _LOWER_HEAD, pos)
        if found is None:
            break
        m, b0, b1 = found
        x = q[b0:b1]
        if len(_split_top_args(x)) != 1:
            pos = b0
            continue
        repl = f"lcase(translate({x}, 'İΣ', 'iσ'))"
        q = q[: m.start()] + repl + q[b1 + 1 :]
        pos = m.start() + len("lcase(translate(")
    pos = 0
    while True:
        found = _find_call(q, _UPPER_HEAD, pos)
        if found is None:
            return q
        m, b0, b1 = found
        x = q[b0:b1]
        if len(_split_top_args(x)) != 1:
            pos = b0
            continue
        div, pua, back = _case_shield()
        repl = (
            f"translate(ucase(translate({x}, '{div}', '{pua}')),"
            f" '{pua}', '{back}')"
        )
        q = q[: m.start()] + repl + q[b1 + 1 :]
        pos = m.start() + len("translate(ucase(translate(")


_ROUND_HEAD = re.compile(r"\bround\s*\(", re.IGNORECASE)


def _rewrite_double_round(q: str, column_types: dict) -> str:
    """Trino ``round(double, n)`` is BINARY-scaled Math.round —
    ``Math.floor(x * 10^n + 0.5) / 10^n`` (sign-mirrored for x < 0) —
    while Spark routes doubles through ``BigDecimal.valueOf`` and
    rounds the shortest DECIMAL representation HALF_UP
    (Round/RoundBase).  The two disagree exactly on values whose
    decimal spelling sits on a .5 boundary the binary product has
    already fallen below: Trino ``round(1.005E0, 2)`` = 1.0 (the IEEE
    product 100.4999999999999893 + 0.5 floors to 100) where Spark
    returns 1.01 — a silent value divergence on any double measure.
    (``round(2.675E0, 2)`` = 2.68 in BOTH: that product rounds up to
    267.5 exactly — the divergence is per-value, which is why the
    sweep in tests/test_differential_semantics.py is randomized.)

    Rewrites the 2-arg form when the FIRST operand is lexically
    double-typed (E-notation or DOUBLE/REAL literals, CAST targets,
    plain catalog columns of double/float type — the x47 contract) to
    the sign-mirrored floor form, evaluated in the same IEEE doubles
    Java uses.  DECIMAL operands stay with Spark's builtin (exact
    HALF_UP matches Trino's decimal round); 1-arg round on double
    agrees in both engines (half-away-from-zero at integer boundaries
    survives the +0.5 in binary).  REAL operands promote to double
    here where Trino rounds in float arithmetic — float-boundary
    values may still differ by one ulp (documented residue).

    Reference parity: Trino MathFunctions.round(double, long); the
    reference forwards query text verbatim (client.go:284-291).
    """
    types = {str(k).lower(): str(v).lower() for k, v in column_types.items()}
    pos = 0
    while True:
        found = _find_call(q, _ROUND_HEAD, pos)
        if found is None:
            return q
        m, b0, b1 = found
        args = _split_top_args(q[b0:b1])
        if len(args) != 2 or _operand_fp_kind(args[0], types) != "double":
            pos = b0
            continue
        x, n = args[0], args[1]
        if _has_nondeterministic_call(x) or _has_nondeterministic_call(n):
            # both x and n are duplicated across the sign branches — a
            # rand()-bearing operand or scale would draw independently
            # per copy and mix scales/values within one row
            pos = b0
            continue
        f = f"power(10, ({n}))"

        # double-domain Math.floor: Spark's floor(double) returns
        # BIGINT (ANSI-crashing on NaN/Infinity/|y| > 2^63 where
        # Java's Math.floor just returns y) — above 2^53 every double
        # is already integral, so the guard passes y through there and
        # for NaN/Infinity (abs comparison false / false)
        def dfloor(y: str) -> str:
            return (
                f"IF(abs({y}) < 9.007199254740992E15,"
                f" CAST(floor({y}) AS DOUBLE), {y})"
            )

        repl = (
            f"IF(({x}) < 0,"
            f" -{dfloor(f'((-({x})) * {f} + 0.5D)')} / {f},"
            f" {dfloor(f'(({x}) * {f} + 0.5D)')} / {f})"
        )
        q = q[: m.start()] + repl + q[b1 + 1 :]
        # resume inside the IF: nested round() calls within x/n copies
        # are still scanned; the rewritten call itself is gone
        pos = m.start() + len("IF((")


def _rewrite_cast_rounding(q: str, column_types: dict) -> str:
    """Trino CAST of a fractional value to an integral type ROUNDS
    HALF_UP (half away from zero) for BOTH DOUBLE/REAL and DECIMAL —
    ``DoubleMath.roundToLong(value, RoundingMode.HALF_UP)`` in
    DoubleOperators, not ``Math.round`` (round-12 correction: ties go
    AWAY from zero, so ``CAST(-2.5E0 AS BIGINT)`` is -3, not -2, and
    NaN is an error, not 0) — while Spark's ANSI cast TRUNCATES
    toward zero: ``CAST(2.5E0 AS BIGINT)`` is 3 in Trino, 2 in Spark,
    silently.  Rewrites CAST/TRY_CAST to TINYINT/SMALLINT/INTEGER/
    INT/BIGINT when the operand is lexically double- or decimal-typed
    (the x47 knowability contract: literals, CAST targets, plain
    catalog columns):

    - double operand → sign-mirrored ``floor(|x| + 0.5)`` (exactly
      HALF_UP; mirrors the decimal branch), with NaN raising
      ``Cannot cast double NaN to <type>`` like Trino under CAST and
      yielding NULL under TRY_CAST.  Infinity is an ANSI overflow
      error here, as in Trino (DoubleMath.roundToLong rejects
      non-finite input); under TRY_CAST, NaN / ±Infinity /
      beyond-long magnitudes are guarded to NULL explicitly (the
      floor overflow would otherwise fire outside the try scope —
      VERDICT r12 #5), and exactly -2^63 maps to Long.MIN like
      roundToLong.  Residue: values within 0.5 ulp of an odd
      integer ≥ 2^52 can round up where Guava's exact arithmetic
      would not (the +0.5 is a float add).
    - decimal operand → ``x ± 0.5`` then the truncating cast (exact
      decimal arithmetic: trunc(x + sign(x)*0.5) IS HALF_UP).

    Also routes CAST(double AS VARCHAR) — bare VARCHAR/STRING target,
    knowable-double operand — through ``trino_double_to_varchar``:
    Trino renders doubles in always-scientific shortest-roundtrip
    form since Trino 373 ('1.5E0', '1E2', '0E0', 'NaN') where Spark
    renders '1.5'/'100.0' — a silent text divergence on every
    stringified double.  REAL operands (``_operand_is_real``) route
    through ``trino_real_to_varchar`` instead — float32
    shortest-roundtrip via numpy Dragon4, the round-12 closure (x62).
    Parameterized varchar(n) targets keep the documented residue
    (Trino additionally length-checks those).

    Operands of unknowable type (function results, subquery aliases)
    keep Spark truncation/rendering — same documented residue class
    as x47.  Reference parity: Trino DoubleOperators.castToLong /
    DecimalCasts (HALF_UP) / the Ryu scientific double→varchar cast;
    the reference forwards text verbatim.
    """
    types = {str(k).lower(): str(v).lower() for k, v in column_types.items()}
    pos = 0
    while True:
        found = _find_call(q, _CAST_HEAD, pos)
        if found is None:
            return q
        m, b0, b1 = found
        body = q[b0:b1]
        as_at = _split_cast_body(body)
        if as_at is None:
            pos = b1
            continue
        target = body[as_at.end() :].strip().lower()
        x = body[: as_at.start()].strip()
        kind = (
            _operand_fp_kind(x, types)
            if target
            in ("tinyint", "smallint", "int", "integer", "bigint",
                "varchar", "string")
            else None
        )
        if kind is None:
            # leave the call; nested CASTs inside the body are matched
            # on later iterations by resuming INSIDE the parens
            pos = m.end()
            continue
        if _has_nondeterministic_call(x):
            # every rewrite below duplicates x (isnan guard + sign
            # branches); a rand()-bearing operand would draw
            # independently per copy
            pos = m.end()
            continue
        if target in ("varchar", "string"):
            if kind != "double":
                # decimal → varchar renders plainly in both engines
                pos = m.end()
                continue
            # LITERAL operands constant-fold at translate time: Catalyst
            # canonicalizes ±0.0 literals into ONE constant, so
            # CAST(-0.0E0 AS VARCHAR) and CAST(0.0E0 AS VARCHAR) in the
            # same plan would share a single runtime rendering (the
            # round-12 '-0.0E0 rendering' residue); folding also skips
            # the UDF entirely.  Column/expression operands keep the
            # runtime path (per-row values are NOT conflated).
            lit = x.strip()
            while lit.startswith("(") and lit.endswith(")") and _balanced(
                lit[1:-1]
            ):
                lit = lit[1:-1].strip()
            folded = None
            if _DOUBLE_LITERAL.fullmatch(lit):
                folded = _trino_d2s(float(lit))
            else:
                tm = _TYPED_FP_LITERAL.fullmatch(lit)
                if tm is not None:
                    body = lit[lit.index("'") + 1 : -1].strip()
                    try:
                        v = float(body)
                    except ValueError:
                        v = None
                    if v is not None:
                        folded = (
                            _trino_r2s(v)
                            if tm.group(1).upper() == "REAL"
                            else _trino_d2s(v)
                        )
                        if v != v:  # literal NaN folds to its text
                            folded = "NaN"
            if folded is not None:
                q = q[: m.start()] + f"'{folded}'" + q[b1 + 1 :]
                pos = m.start() + len(folded) + 2
                continue
            # the isnan guard distinguishes true NaN (→ 'NaN') from
            # SQL NULL (→ NULL): Arrow conflates them inside the UDF;
            # REAL operands render over float32 (round-12 closure)
            fn = (
                "trino_real_to_varchar"
                if _operand_is_real(x, types)
                else "trino_double_to_varchar"
            )
            repl = (
                f"IF(isnan(CAST(({x}) AS DOUBLE)), 'NaN',"
                f" {fn}({x}))"
            )
            q = q[: m.start()] + repl + q[b1 + 1 :]
            pos = m.start() + len("IF(isnan(CAST((")
            continue
        head = q[m.start() : b0]  # 'CAST(' or 'TRY_CAST(' as written
        if kind == "double":
            # sign-mirrored floor(|x| + 0.5) IS RoundingMode.HALF_UP;
            # floor on a double returns BIGINT, keeping the IF's common
            # type exact above 2^53 (a double branch would lose it).
            # Exactly -2^63 is a valid bigint whose mirrored |x| + 0.5
            # would overflow floor's BIGINT — special-cased so Trino's
            # roundToLong(-2^63) = Long.MIN survives both CAST heads
            xd = f"CAST(({x}) AS DOUBLE)"
            half_up = (
                f"IF(({x}) < 0,"
                f" IF({xd} = -9.223372036854776E18,"
                f" CAST('-9223372036854775808' AS BIGINT),"
                f" -floor((-({x})) + 0.5D)),"
                f" floor(({x}) + 0.5D))"
            )
            if head.upper().startswith("TRY"):
                # Trino try_cast absorbs roundToLong's ArithmeticException
                # (NaN, ±Infinity, beyond-long magnitude) into NULL; our
                # floor overflow would error OUTSIDE the try scope
                # (VERDICT r12 #5), so guard every non-finite /
                # out-of-long-range value explicitly
                new_x = (
                    f"IF(isnan({xd}) OR {xd} >= 9.223372036854776E18"
                    f" OR {xd} < -9.223372036854776E18,"
                    f" NULL, {half_up})"
                )
            else:
                tgt = {"int": "integer"}.get(target, target)
                nan_branch = (
                    f"raise_error('Cannot cast double NaN to {tgt}')"
                )
                new_x = f"IF(isnan({xd}), {nan_branch}, {half_up})"
        else:
            new_x = f"(({x}) + IF(({x}) < 0, -0.5, 0.5))"
        repl = f"{head}{new_x} AS {body[as_at.end():].strip()})"
        q = q[: m.start()] + repl + q[b1 + 1 :]
        pos = m.start() + len(head) + 3  # inside IF(/((: rescan copies


_ORDER_BY_HEAD = re.compile(r"\bORDER\s+BY\b", re.IGNORECASE)
#: words that end a sort-item list at its own paren depth: set-ops and
#: LIMIT-family after a statement ORDER BY; frame/EXCLUDE keywords after
#: a window ORDER BY; section keywords after MATCH_RECOGNIZE's ORDER BY
_SORT_LIST_END = re.compile(
    r"(?i)(LIMIT|OFFSET|FETCH|ROWS|RANGE|GROUPS|WINDOW|MEASURES|"
    r"PATTERN|DEFINE|SUBSET|AFTER|EXCLUDE|UNION|INTERSECT|EXCEPT)\b"
)
_SORT_ITEM_TAIL = re.compile(
    r"(?is)^(?P<expr>.*?)(?P<dir>\s+(?:ASC|DESC))?"
    r"(?P<nulls>\s+NULLS\s+(?:FIRST|LAST))?\s*$"
)


def _rewrite_order_by_null_defaults(q: str) -> str:
    """Make Trino's DEFAULT null ordering explicit on every sort item.

    Trino (like the SQL standard's popular reading, Postgres and
    DuckDB) defaults to NULLS LAST for ASC and NULLS FIRST for DESC;
    Spark defaults to the EXACT OPPOSITE — so any ORDER BY on a
    nullable key (statement-level, window, WITHIN GROUP, or
    MATCH_RECOGNIZE) silently places the NULL rows at the other end,
    flipping LIMIT results and every rank/row_number value.  The
    rewrite appends the Trino-default ``NULLS LAST``/``NULLS FIRST``
    to each sort item that lacks an explicit NULLS clause, BEFORE any
    pass that parses sort keys (FROM LAST reversal, WITH TIES, GROUPS
    frames, EXCLUDE peers all then see the explicit placement).

    The sort list ends at the enclosing ``)``, at ``;``, or at a
    frame/section/set-op keyword at the same paren depth.  Rightmost
    list first, re-scanned to fixpoint — a nested subquery's ORDER BY
    inside a sort item is processed before the outer list, so outer
    offsets stay valid.
    """
    while True:
        mask = _code_mask(q)
        # scan from the right: process the last list that still changes
        changed = False
        for m in reversed([
            mm for mm in _ORDER_BY_HEAD.finditer(q) if mask[mm.start()]
        ]):
            i, n = m.end(), len(q)
            depth, end = 0, n
            while i < n:
                if mask[i]:
                    c = q[i]
                    if c == "(":
                        depth += 1
                    elif c == ")":
                        if depth == 0:
                            end = i
                            break
                        depth -= 1
                    elif c == ";" and depth == 0:
                        end = i
                        break
                    elif depth == 0 and (c.isalpha() or c == "_"):
                        if not (i > 0 and (q[i - 1].isalnum() or q[i - 1] in "_$")):
                            t = _SORT_LIST_END.match(q, i)
                            if t:
                                end = i
                                break
                        while i < n and (q[i].isalnum() or q[i] in "_$"):
                            i += 1
                        continue
                i += 1
            body = q[m.end() : end]
            items = _split_top_args(body)
            if not items or not body.strip():
                continue
            out_items = []
            for it in items:
                tm = _SORT_ITEM_TAIL.match(it)
                if tm is None or tm.group("nulls") or not tm.group("expr").strip():
                    out_items.append(it)
                    continue
                is_desc = (tm.group("dir") or "").strip().upper() == "DESC"
                pos = "FIRST" if is_desc else "LAST"
                out_items.append(it.rstrip() + f" NULLS {pos}")
            new_body = ", ".join(s.strip() for s in out_items)
            old_norm = ", ".join(s.strip() for s in items)
            if new_body != old_norm:
                sep = "" if end >= n or q[end] in ");" else " "
                q = q[: m.end()] + " " + new_body + sep + q[end:]
                changed = True
                break
        if not changed:
            return q


#: Trino md5/sha1 return VARBINARY; Spark's builtins of the same name
#: return the lowercase-hex STRING.  Under the trino dialect the call
#: is wrapped in unhex(...) so downstream to_hex/length/comparisons
#: see the byte image Trino produces (sha256/sha512 are not Spark
#: builtin names and already return BINARY via registered SQL UDFs).
_BINARY_HASH_HEADS = (
    (re.compile(r"\bmd5\s*\(", re.IGNORECASE), "md5"),
    (re.compile(r"\bsha1\s*\(", re.IGNORECASE), "sha1"),
)


def _rewrite_binary_hashes(q: str) -> str:
    for head, fn in _BINARY_HASH_HEADS:
        start = 0
        while True:
            found = _find_call(q, head, start)
            if found is None:
                break
            m, bs, be = found
            repl = f"unhex({fn}({q[bs:be]}))"
            q = q[: m.start()] + repl + q[be + 1 :]
            # resume INSIDE the wrapped call: past our own `unhex(fn(`
            # (so it isn't re-wrapped) but before the argument text, so
            # nested calls (`md5(md5(x))`) still get their own wrap
            start = m.start() + len(f"unhex({fn}(")
    return q


_REGEXP_EXTRACT_HEAD = re.compile(
    r"(?<![\w$])regexp_extract\s*\(", re.IGNORECASE
)
_RE_STRICT_TOKEN = "__regexp_extract0__"


def _rewrite_regexp_extract_nullsafe(q: str) -> str:
    """Trino's ``regexp_extract`` returns NULL when the pattern does
    not match, and its 2-arg form returns the WHOLE match (group 0) —
    Spark returns '' on no-match and defaults the missing group index
    to 1, erroring outright when the pattern has no capture group.
    Rewrite every user-spelled call to

        CASE WHEN regexp_like(s, pat) THEN regexp_extract(s, pat, g) END

    with g defaulting to 0 (both engines' regexp_like/find semantics
    are substring search, exactly regexp_extract's match test, so the
    guard is NULL-correct for NULL inputs too and '' stays '' for a
    genuine empty-width match like 'x*').  The generated strict call
    is emitted under a sentinel spelling so the scan cannot re-match
    it, then renamed back.  Residue (documented): a matched pattern
    whose requested group did not PARTICIPATE ('(a)(b)?' group 2 on
    'ac') yields '' where Trino yields NULL — Spark coalesces
    non-participating groups to '' inside the engine, and no
    expression-level guard can distinguish the two.  Certified by x37
    (DuckDB's regexp_extract is whole-match-by-default; its no-match
    '' diverges from Trino, so the oracle spells the NULL guard
    explicitly)."""
    while True:
        hit = _find_call(q, _REGEXP_EXTRACT_HEAD)
        if hit is None:
            break
        m, b0, b1 = hit
        args = _split_top_args(q[b0:b1])
        if len(args) == 2:
            s, pat, g = args[0], args[1], "0"
        elif len(args) == 3:
            s, pat, g = args
        else:
            raise TrinoCompatError(
                "regexp_extract expects 2 or 3 arguments, got "
                f"{len(args)}"
            )
        repl = (
            f"(CASE WHEN regexp_like({s}, {pat}) "
            f"THEN {_RE_STRICT_TOKEN}({s}, {pat}, {g}) END)"
        )
        q = q[: m.start()] + repl + q[b1 + 1 :]
    return q.replace(_RE_STRICT_TOKEN, "regexp_extract")


_SPLIT_PART_HEAD = re.compile(
    r"(?<![\w$])split_part\s*\(", re.IGNORECASE
)
_SP_STRICT_TOKEN = "__split_part0__"


_SUBSTR_HEAD = re.compile(
    r"(?<![\w$])(substr|substring)\s*\(", re.IGNORECASE
)
_SUBSTR_STRICT_TOKEN = "__substr_strict__"


def _rewrite_substr_semantics(q: str) -> str:
    """Trino ``substr/substring(s, start[, length])``: start position 0
    returns the EMPTY string, and a negative start pointing before the
    beginning (|start| > length(s)) returns empty too — Spark treats
    start 0 as position 1 and CLAMPS out-of-range negative starts to
    the beginning (``substring('abcde', 0)`` → 'abcde', ``substring(
    'abcde', -7, 3)`` → 'a'), both silent wrong-answer divergences on
    Trino-valid queries.  Rewrite to

        CASE WHEN (start) = 0 OR (start) < -length(s)
             THEN substring(s, 1, 0)          -- typed empty
             ELSE substring(s, start[, len]) END

    ``substring(s, 1, 0)`` produces the empty value OF THE ARGUMENT'S
    TYPE (varchar or varbinary — a literal '' would coerce binary
    branches to string).  In-range semantics already agree (negative
    start counts from the end on both engines; start past the end and
    non-positive length both yield empty on both).  The ANSI spelling
    ``substring(s FROM a [FOR b])`` — which Spark would otherwise
    evaluate with its own clamping semantics — is normalized into the
    guarded comma form.  NULL inputs fall through the CASE to the
    builtin → NULL, Trino's RETURNS-NULL-ON-NULL-INPUT.  Shares the
    guard-family hazards documented at _rewrite_split_part_semantics
    (per-branch argument duplication).  Runs BEFORE every pass that
    generates substr of its own (the binary-hash pass emits a
    deliberately-clamping ``substr(hex(x), -8)``).  Certified by x43
    (DuckDB clamps like Spark, so the oracle spells the empty contract
    explicitly)."""
    while True:
        hit = _find_call(q, _SUBSTR_HEAD)
        if hit is None:
            break
        m, b0, b1 = hit
        body = q[b0:b1]
        bmask = _code_mask(body)
        bdepth = _depths(body, bmask)
        kws = [
            kw
            for kw in re.finditer(r"\bFROM\b|\bFOR\b", body, re.IGNORECASE)
            if bmask[kw.start()] and bdepth[kw.start()] == 0
        ]
        if kws and kws[0].group().upper() == "FROM":
            # ANSI form: s FROM start [FOR length]
            s0 = body[: kws[0].start()]
            if len(kws) > 1 and kws[1].group().upper() == "FOR":
                args = [
                    s0,
                    body[kws[0].end() : kws[1].start()],
                    body[kws[1].end() :],
                ]
            else:
                args = [s0, body[kws[0].end() :]]
        else:
            args = _split_top_args(body)
        if len(args) not in (2, 3):
            raise TrinoCompatError(
                "substr() takes (string, start[, length])"
            )
        s, st = args[0].strip(), args[1].strip()
        rest = f", {args[2].strip()}" if len(args) == 3 else ""
        repl = (
            f"(CASE WHEN ({st}) = 0 OR ({st}) < -length({s}) "
            f"THEN {_SUBSTR_STRICT_TOKEN}({s}, 1, 0) "
            f"ELSE {_SUBSTR_STRICT_TOKEN}({s}, {st}{rest}) END)"
        )
        q = q[: m.start()] + repl + q[b1 + 1 :]
    return q.replace(_SUBSTR_STRICT_TOKEN, "substring")


def _rewrite_split_part_semantics(q: str) -> str:
    """Trino ``split_part(s, delim, n)``: NULL when n exceeds the
    field count, ERROR when n < 1 — Spark returns '' out of range and
    reads from the END for negative n (both silent divergences on
    Trino-valid queries; the negative form silently returns a value
    Trino would reject).  Rewrite to

        CASE WHEN (n) < 1 THEN raise_error(...)
             WHEN (n) > (length(s) - length(replace(s, d, '')))
                        div length(d) + 1 THEN NULL
             ELSE split_part(s, d, n) END

    The field count derives from ``replace`` (LITERAL in both engines
    — no regex escaping, so the delimiter may be any expression);
    occurrence counting is non-overlapping exactly like split_part's
    own splitting.  An empty delimiter divides by zero and errors
    loudly (Trino rejects empty delimiters too).  NULL inputs short-
    circuit to NULL in the FIRST branch (Trino is RETURNS-NULL-ON-
    NULL-INPUT — a NULL string must not trip the index guard).
    Hazards (documented, shared by every guard-style rewrite here —
    regexp_extract, 2-arg log, this): (1) the argument expressions
    are embedded in multiple branches, so a NONDETERMINISTIC argument
    (rand()-derived index) is evaluated independently per branch and
    the guard can check a different value than the guarded call uses
    — deterministic expressions, the SQL norm, are unaffected.
    (2) Each argument appears in 3-5 branches, so NESTED guarded
    calls grow the rewritten text roughly 4^depth — a split_part of a
    split_part of a split_part is already a ~64-branch expression;
    Catalyst folds the duplicates at plan time (common-subexpression
    elimination keeps the EVALUATION linear), but deeply nested calls
    can hit the parser's size limits long before that.  Depth ≤2 is
    the practical norm; deeper nests should bind intermediates via a
    subquery alias.  Certified by x38 (DuckDB's split_part is also
    ''-out-of-range, so the oracle spells the NULL contract
    explicitly)."""
    while True:
        hit = _find_call(q, _SPLIT_PART_HEAD)
        if hit is None:
            break
        m, b0, b1 = hit
        args = _split_top_args(q[b0:b1])
        if len(args) != 3:
            raise TrinoCompatError(
                "split_part() takes (string, delimiter, index)"
            )
        s, delim, n = args
        nfields = (
            f"(length({s}) - length(replace({s}, {delim}, ''))) "
            f"div length({delim}) + 1"
        )
        # NULL inputs FIRST: Trino's split_part is RETURNS-NULL-ON-
        # NULL-INPUT, so a NULL string/delimiter yields NULL even with
        # a negative index — the raise_error guard must not fire
        repl = (
            f"(CASE WHEN ({s}) IS NULL OR ({delim}) IS NULL "
            f"OR ({n}) IS NULL THEN CAST(NULL AS STRING) "
            f"WHEN ({n}) < 1 THEN raise_error("
            f"'split_part: index must be greater than zero') "
            f"WHEN ({n}) > {nfields} THEN NULL "
            f"ELSE {_SP_STRICT_TOKEN}({s}, {delim}, {n}) END)"
        )
        q = q[: m.start()] + repl + q[b1 + 1 :]
    return q.replace(_SP_STRICT_TOKEN, "split_part")


_TRIM2_HEAD = re.compile(
    r"(?<![\w$])(trim|ltrim|rtrim)\s*\(", re.IGNORECASE
)
_TRIM_SIDE = {"ltrim": "LEADING", "rtrim": "TRAILING"}


def _rewrite_trim_chars(q: str) -> str:
    """Two-arg ``trim/ltrim/rtrim(string, chars)``: Trino takes the
    SOURCE first and the strip-set second (StringFunctions.java's
    CodePoints second parameter, the Postgres convention) — Spark's
    two-arg forms take them REVERSED (trimStr first), so a Trino-valid
    call silently strips the wrong string with the wrong set.
    ``trim(a, b)`` maps to Spark's ``btrim(a, b)`` (string-first,
    identical semantics); ``ltrim/rtrim(a, b)`` map to the SQL
    ``TRIM(LEADING|TRAILING b FROM a)`` grammar (Spark deprecates its
    two-arg function spellings; the grammar form also contains no
    top-level comma, so the scan cannot re-match its own output).
    One-arg forms and the user-spelled ``trim([BOTH] chars FROM s)``
    grammar are identical in both engines and pass through.
    Certified by x39 (DuckDB's trim family is string-first like
    Trino)."""
    pos = 0
    while True:
        hit = _find_call(q, _TRIM2_HEAD, pos)
        if hit is None:
            break
        m, b0, b1 = hit
        args = _split_top_args(q[b0:b1])
        if len(args) != 2:
            pos = m.end()  # 1-arg / FROM-grammar form: untouched
            continue
        fn = m.group(1).lower()
        a, b = args
        if fn == "trim":
            repl = f"btrim({a}, {b})"
        else:
            repl = f"TRIM({_TRIM_SIDE[fn]} {b} FROM {a})"
        q = q[: m.start()] + repl + q[b1 + 1 :]
        pos = m.start()
    return q


_LOG_FAMILY_HEAD = re.compile(
    r"(?<![\w$])(log10|log2|ln|log)\s*\(", re.IGNORECASE
)
_LOG_TOKENS = {"ln": "__ln0__", "log10": "__log10_0__",
               "log2": "__log2_0__"}


def _ieee_log_tree(fn: str, e: str) -> str:
    """IEEE result tree for a 1-arg log-family call: Trino evaluates
    Math.log/log10 directly (MathFunctions.java), so 0 → -Infinity and
    negative → NaN — Spark's builtins return NULL for every
    non-positive input.  Positive (and NaN, which sorts above 0 in
    Spark's ordering and passes through the builtin as NaN) keeps the
    BUILTIN call bit-exact; NULL skips every branch."""
    b = f"{_LOG_TOKENS[fn]}({e})"
    return (
        f"(CASE WHEN ({e}) > 0 THEN {b} "
        f"WHEN ({e}) = 0 THEN -double('Infinity') "
        f"WHEN ({e}) < 0 THEN double('NaN') END)"
    )


def _rewrite_log_ieee(q: str) -> str:
    """Trino's ln/log10/log2/log(b, x) follow IEEE 754 (pure
    Math.log — 0 gives -Infinity, negatives give NaN) where Spark's
    builtins return NULL for every non-positive input: a silent value
    divergence wherever a pipeline takes log of a zero count.  1-arg
    calls wrap in the IEEE tree (builtin kept for positives —
    bit-exact); Trino's 2-arg ``log(b, x)`` is Math.log(x)/Math.log(b)
    and compiles to the two IEEE trees divided under a zero-divisor
    guard (ANSI Spark errors on double division by zero; IEEE says
    ±Infinity by the numerator's sign, NaN for 0/0 — NaN numerators
    are tested FIRST because NaN sorts above 0 in Spark comparisons,
    and NULL numerators before that: Trino is RETURNS-NULL-ON-NULL-
    INPUT, so log(1, NULL) is NULL, not -Infinity).
    Sentinel spellings keep the scan off its own output.  MUST run in
    the early block — the geometric_mean rewrite (and other later
    generators) emit Spark-semantics ln() on purpose.  Hazard
    (documented): argument expressions are embedded once per CASE
    branch, so a NONDETERMINISTIC argument is evaluated independently
    per branch; deterministic expressions, the SQL norm, are
    unaffected.  Certified by x40 (DuckDB ERRORS on log of
    non-positives, so the oracle spells the IEEE contract
    explicitly)."""
    while True:
        hit = _find_call(q, _LOG_FAMILY_HEAD)
        if hit is None:
            break
        m, b0, b1 = hit
        fn = m.group(1).lower()
        args = _split_top_args(q[b0:b1])
        if fn in _LOG_TOKENS:
            if len(args) != 1:
                raise TrinoCompatError(f"{fn}() takes exactly one argument")
            repl = _ieee_log_tree(fn, args[0])
        else:  # log — Trino has ONLY the 2-arg (base, x) form
            if len(args) != 2:
                raise TrinoCompatError(
                    "log() takes (base, x) in Trino — use ln()/log10()/"
                    "log2() for the one-argument forms"
                )
            num = _ieee_log_tree("ln", args[1])
            den = _ieee_log_tree("ln", args[0])
            # NULL numerator FIRST: the sign tests below would
            # otherwise fall through to -Infinity for log(1, NULL)
            # (Trino is RETURNS-NULL-ON-NULL-INPUT)
            repl = (
                f"(CASE WHEN {den} = 0 THEN "
                f"(CASE WHEN {num} IS NULL THEN CAST(NULL AS DOUBLE) "
                f"WHEN isnan({num}) OR {num} = 0 "
                f"THEN double('NaN') "
                f"WHEN {num} > 0 THEN double('Infinity') "
                f"ELSE -double('Infinity') END) "
                f"ELSE {num} / {den} END)"
            )
        q = q[: m.start()] + repl + q[b1 + 1 :]
    for name, token in _LOG_TOKENS.items():
        q = q.replace(token, name)
    return q


_GROUPING_HEAD = re.compile(r"(?<![\w$])grouping\s*\(", re.IGNORECASE)


def _rewrite_multiarg_grouping(q: str) -> str:
    """Trino's ``grouping(c1, ..., cn)`` returns the SQL-standard
    grouping bitmask (leftmost column = most significant bit, bit set
    when the column is aggregated away) for ANY arity — Spark's
    ``grouping`` takes exactly one column and its multi-column twin is
    ``grouping_id``, with the identical bitmask contract.  Rename
    calls with more than one top-level argument; 1-arg calls pass
    through (certified by a6), and a ``GROUPING SETS`` clause never
    matches the call head (no paren directly after the word)."""
    pos = 0
    while True:
        hit = _find_call(q, _GROUPING_HEAD, pos)
        if hit is None:
            return q
        m, b0, b1 = hit
        args = _split_top_args(q[b0:b1])
        if len(args) < 2:
            pos = m.end()
            continue
        q = q[: m.start()] + "grouping_id(" + q[m.end() :]
        pos = m.start() + len("grouping_id(")


_ELEMENT_AT_CALL = re.compile(r"(?<![\w$])element_at\s*\(", re.IGNORECASE)


def _rewrite_element_at_nullsafe(q: str) -> str:
    """USER-spelled ``element_at`` → ``try_element_at``: Trino's
    element_at returns NULL out of bounds (and on a missing map key),
    but Spark 4 runs ANSI mode where element_at THROWS on an
    out-of-bounds array index — a Trino-valid query would crash.
    Spark's try_element_at matches Trino's element_at on every probed
    edge: index 0 still throws (Trino: "SQL array indices start at
    1"), negative in-range reads from the end, |i| > cardinality and
    missing map keys yield NULL.  MUST run before every pass that
    GENERATES strict element_at on purpose — the subscript rewrite
    (Trino ``arr[i]`` also throws OOB, so its generated element_at
    keeps ANSI's throwing parity) and the map_union / lambda-regexp
    expansions.  Certified by x36 (DuckDB's list indexing is natively
    NULL-out-of-bounds)."""
    mask = _code_mask(q)
    out, last = [], 0
    for m in _ELEMENT_AT_CALL.finditer(q):
        if not mask[m.start()]:
            continue
        out.append(q[last : m.start()])
        out.append("try_element_at(")
        last = m.end()
    out.append(q[last:])
    return "".join(out)


def translate(
    query: str,
    column_types: Optional[Dict[str, str]] = None,
    subquery_type=None,
) -> str:
    """Rewrite Trino-only idioms to Spark SQL, outside literals/comments.

    ``column_types`` (lowercase column name → Spark simple type string,
    ambiguous names pre-collapsed to a non-type sentinel by the caller)
    enables the schema-aware integer-division pass; without it only the
    literal/literal case is rewritten and column-typed division stays a
    documented divergence.

    ``subquery_type`` (optional, r15): callable typing a parenthesized
    subquery text against the live session's analyzer (LIMIT-0 schema
    resolution — parse+analyze only, no jobs) and returning the single
    output column's Spark simpleString, or None when the text does not
    analyze standalone (correlated subqueries, not-yet-translated
    idioms).  It extends the x47 lexical-typing contract to operand
    positions only the analyzer can see — the NaN residue class
    (VERDICT r14 #3): comparisons against scalar subqueries, quantified
    ordering thresholds, IN-subquery membership."""
    import time as _t

    stack = _deadline_stack()
    stack.append(_t.monotonic() + TRANSLATE_TIME_BUDGET_S)
    try:
        return _translate_inner(query, column_types, subquery_type)
    finally:
        stack.pop()


def _translate_inner(
    query: str,
    column_types: Optional[Dict[str, str]] = None,
    subquery_type=None,
) -> str:
    # FIRST: normalize Trino's escape-free literal spelling to Spark's
    # (backslashes doubled) — every later pass lexes with Spark rules
    query = _respell_escape_free_literals(query)
    query = _rewrite_unicode_literals(query)
    # substr start-0 / out-of-range-negative-start → empty (Trino)
    # where Spark clamps — BEFORE the binary-hash pass, which emits a
    # deliberately-clamping substr of its own
    query = _rewrite_substr_semantics(query)
    query = _rewrite_binary_hashes(query)
    # BEFORE every pass that generates strict element_at on purpose
    # (subscripts, map_union, lambda regexp) — only USER-spelled
    # element_at becomes the Trino-NULL-semantics try_element_at
    query = _rewrite_element_at_nullsafe(query)
    # likewise BEFORE the generators that emit Spark-semantics
    # regexp_extract (parse_data_size) — user calls get Trino's
    # NULL-on-no-match and group-0 default
    query = _rewrite_regexp_extract_nullsafe(query)
    # split_part: Trino NULL-out-of-range / error-on-nonpositive vs
    # Spark ''-out-of-range / negative-reads-from-end (field count via
    # literal replace() — no regex, so later passes see nothing to
    # re-escape)
    query = _rewrite_split_part_semantics(query)
    # two-arg trim/ltrim/rtrim: Trino is (string, chars), Spark's
    # two-arg forms are (trimStr, str) — a silent arg swap
    query = _rewrite_trim_chars(query)
    # Trino-rounding semantics for knowable-typed operands (literal /
    # CAST / catalog-column / always-double-function forms — the x47
    # contract): CAST(double|decimal AS integral) rounds,
    # round(double, n) is binary-scaled, CAST(double AS VARCHAR)
    # renders scientific.  BEFORE the log-IEEE pass so an ln()/log()
    # operand is still spelled as the recognizable call (its copies
    # inside the emitted guard flow through log-IEEE afterwards).
    query = _rewrite_bare_decimal(query)
    # x73 NaN comparison semantics — BEFORE the generator passes
    # (cast-rounding sign checks, log-IEEE domain guards) that emit
    # Spark-semantics float comparisons on purpose; skips UPDATE/MERGE
    # (SET-list `=` is assignment, same contract as the array pass)
    if not re.match(r"(?is)\s*(UPDATE|MERGE)\b", query) and re.search(
        r"[<>=!]", query
    ):
        query = _rewrite_double_nan_comparisons(query, column_types or {})
    # x77 BETWEEN under NaN — same contract and placement as the
    # comparison pass (BETWEEN desugars to two ordering comparisons)
    if re.search(r"(?i)\bBETWEEN\b", query) and not re.match(
        r"(?is)\s*(UPDATE|MERGE)\b", query
    ):
        query = _rewrite_nan_between(query, column_types or {})
    query = _rewrite_cast_rounding(query, column_types or {})
    query = _rewrite_double_round(query, column_types or {})
    query = _rewrite_date_interval(query, column_types or {})
    # ln/log10/log2/log(b, x): Trino is pure IEEE Math.log (0 ->
    # -Infinity, negative -> NaN) where Spark's builtins return NULL.
    # Early: later generators (geometric_mean) emit Spark-semantics
    # ln() on purpose
    query = _rewrite_log_ieee(query)
    # BEFORE the passes that generate skip-NULL least/greatest on
    # purpose (window EXCLUDE splits, comma-UNNEST zip padding)
    query = _rewrite_least_greatest_nulls(query, column_types)
    query = _rewrite_int_literal_division(query)
    if column_types and has_identifier_division(query):
        query = _rewrite_column_int_division(query, column_types)
    # AFTER the integer-division passes: decimal division takes Trino's
    # max(s1,s2) result scale (HALF_UP) where Spark widens the scale
    if "/" in query:
        query = _rewrite_decimal_division(query, column_types or {})
    # avg over a knowable decimal keeps Trino's INPUT type (p, s),
    # HALF_UP — Spark widens to (p+4, s+4), a silent value divergence
    query = _rewrite_decimal_avg(query, column_types or {})
    # BEFORE every pass that parses sort keys (FROM LAST, WITH TIES,
    # GROUPS frames, EXCLUDE) — they must see Trino's null placement
    query = _rewrite_order_by_null_defaults(query)
    # orderless ranking/offset windows: Trino-legal, Spark-rejected —
    # inject the constant ORDER BY 1 (all rows stay peers)
    query = _rewrite_orderless_ranking_windows(query)
    # multi-arg grouping(c1..cn) -> grouping_id (same bitmask contract)
    query = _rewrite_multiarg_grouping(query)
    query = _rewrite_reduce_agg(query)
    query = _rewrite_approx_most_frequent(query)
    query = _rewrite_combinations(query)
    query = _rewrite_with_ties(query)
    query = _rewrite_nth_from_last(query)
    query = _rewrite_window_exclude(query)
    query = _rewrite_groups_frames(query)
    query = _rewrite_array_literal(query)
    # AFTER the ARRAY[..] pass (x76 splits the two args on top-level
    # commas — constructor brackets would break the split), BEFORE the
    # rename pass that respells contains( → array_contains(
    if _NAN_MEMBER_HEAD.search(query):
        query = _rewrite_nan_membership(query, column_types or {})
    # AFTER the ARRAY[..] pass (constructor brackets gone), BEFORE any
    # pass that emits Spark-semantics subscripts of its own
    query = _rewrite_subscripts(query, column_types)
    # AFTER the ARRAY[..] pass (operands carry the recognizable
    # array(...) spelling) and the subscript pass
    query = _rewrite_array_comparisons(query, column_types or {})
    query = _rewrite_array_in_lists(query, column_types or {})
    query = _rewrite_complex_simple_case(query, column_types or {})
    query = _rewrite_complex_nullif(query, column_types or {})
    query = _rewrite_comma_unnest(query)
    query = _rewrite_unnest(query, _code_mask(query))
    query = _rewrite_unnest_from(query)
    query = _rewrite_try(query)
    # x81: double /0 and %0 are IEEE in Trino (±Infinity/NaN), ANSI
    # hard errors here.  AFTER try(): its bodies are already try_*
    # calls (try(x/0e0) keeps the documented try_divide NULL residue
    # rather than breaking the try shape-matcher on the IF dispatch)
    if "/" in query or "%" in query or re.search(
        r"(?i)\bmod\s*\(", query
    ):
        query = _rewrite_double_div_mod_zero(query, column_types or {})
    # MUST precede the Joda pass: format_datetime rewrites INTO
    # date_format(...) calls whose patterns are already Java-style
    query = _rewrite_date_format(query)
    query = _rewrite_format_datetime(query)
    query = _rewrite_parse_datetime(query)
    query = _rewrite_split(query)
    query = _rewrite_split_to_map(query)
    # after _rewrite_split (the generated split(s, pat, -1) calls are
    # already Spark-regex semantics and must not be literal-quoted)
    query = _rewrite_lambda_regexp_replace(query)
    query = _rewrite_extract_fields(query)
    query = _rewrite_map_agg(query)
    query = _rewrite_entropy(query)
    query = _rewrite_approx_percentile_weighted(query)
    query = _rewrite_kurtosis_unbiased(query)
    query = _rewrite_stat_agg_edges(query)
    query = _rewrite_minmax_n(query)
    query = _rewrite_width_bucket_bins(query)
    query = _rewrite_map_concat(query)
    query = _rewrite_map_union(query)
    query = _rewrite_quantile_sketches(query)
    query = _rewrite_quantified_comparisons(query, subquery_type)
    # x77 analyzer-typed NaN closures — AFTER the quantified pass so
    # the `= ANY` → IN and ordering-threshold emissions flow through:
    # IN (SELECT …) membership with a maybe-NaN probe, then scalar-
    # subquery comparison operands (including the thresholds the
    # quantified pass just emitted)
    if re.search(r"(?i)\bIN\s*\(\s*(SELECT|WITH)\b", query):
        query = _rewrite_nan_in_subqueries(query, column_types or {})
        # then the general projected-IN null-awareness for the
        # non-float probes the NaN pass's typing gate skipped
        query = _rewrite_in_subquery_null_semantics(
            query, column_types or {}
        )
    if subquery_type is not None and re.search(
        r"(?i)\(\s*SELECT\b", query
    ) and re.search(r"[<>=!]", query):
        query = _rewrite_nan_subquery_comparisons(
            query, column_types or {}, subquery_type
        )
    query = _rewrite_sql_json(query)
    query = _rewrite_array_batch10(query)
    query = _rewrite_word_stem_lang(query)
    query = _rewrite_two_arg_if(query)
    query = _rewrite_templates(query)
    query = _rewrite_array_minmax_nulls(query, column_types)
    query = _rewrite_typeof_trino(query)
    query = _rewrite_array_minmax_by(query)
    query = _rewrite_json_constructors(query)
    query = _rewrite_row_fieldn(query)
    query = _rewrite_cast_json(query)
    query = _rewrite_cast_types(query)
    query = _rewrite_from_unixtime(query)
    query = _rewrite_normalize(query)
    # user-spelled xxhash64 → the raw-byte XXH64 UDF, BEFORE the
    # checksum generator below (whose engine-local xxhash64 must keep
    # Spark's builtin)
    query = _rewrite_xxhash64(query)
    # user-spelled upper/lower → simple 1:1 case mapping (generated
    # ucase/lcase below stay Spark-native by spelling)
    query = _rewrite_simple_case(query)
    query = _rewrite_agg_compositions(query)
    query = _rewrite_none_match(query)
    query = _rewrite_numeric_histogram(query)
    query = _rewrite_date_parse(query)
    query = _rewrite_decimal_literal(query)
    query = _rewrite_fp_typed_literal(query)
    query = _rewrite_parse_duration(query)
    query = _rewrite_setdigest_cardinality(query)
    query = _rewrite_hll_sketches(query)
    query = _rewrite_at_time_zone(query)
    query = _rewrite_extract_epoch(query)
    query = _rewrite_regexp_extract_all(query)
    query = _rewrite_array_agg_order(query)
    segs = list(_segments(query))
    out: List[str] = []
    i = 0
    while i < len(segs):
        is_code, seg = segs[i]
        if is_code:
            for pat, repl in _RENAMES:
                seg = pat.sub(repl, seg)
            # date_add('unit', …): fn name in this code segment, unit in
            # the next (literal) segment — rewrite the pair
            if i + 1 < len(segs) and not segs[i + 1][0]:
                unit = _UNIT_LITERAL.match(segs[i + 1][1])
                if unit:
                    for fn_pat, fn_repl in _UNIT_FNS.items():
                        new_seg, n_sub = fn_pat.subn(fn_repl, seg)
                        if n_sub:
                            seg = new_seg
                            segs[i + 1] = (True, unit.group(1))
                            break
        out.append(seg)
        i += 1
    return "".join(out)
