"""ClickHouse-SQL → Spark-SQL transpiler: the dialect constructs a
scalar SQL UDF cannot express.

``compat.py`` covers the scalar surface (``toYear`` et al.) by
registering Catalyst-inlined SQL UDFs — same plan, same pushdown.  But a
ClickHouse user's queries (the reference is 100% ClickHouse SQL,
README.md:415-436 and every dbt model) also lean on constructs that are
*syntax*, not functions, and so cannot be registered:

* **aggregate combinators** — ``sumIf(x, cond)``, ``countIf(cond)``:
  Spark SQL UDFs may not be aggregates;
* **parametric aggregates** — ``quantile(0.5)(x)``: two adjacent
  argument lists is not valid Spark syntax at all;
* **variadic conditionals** — ``multiIf(c1, v1, c2, v2, ..., else)``;
* **cast-style functions** — ``toInt32(x)``: expressible as UDFs but
  uniform here so a query runs with zero session setup;
* **renamed aggregates** — ``argMax``→``max_by``, ``groupArray``→
  ``collect_list``, ``uniqExact``→``COUNT(DISTINCT ...)``.

:func:`transpile` rewrites a ClickHouse query string into Spark SQL by
tokenizing (string literals, quoted identifiers, and comments are
opaque tokens — parens inside them never confuse the walk) and
recursively rewriting function-call sites with balanced-paren argument
parsing.  Everything unrecognized passes through verbatim, so the
transpiler composes with the compat UDF registry: ``transpile``
handles syntax, ``compat`` handles names, and a verbatim reference
query runs unmodified.

The full surface (each backed by gated oracle queries and unit tests):

* clause level — ``PREWHERE``→WHERE, ``GROUP BY ... WITH TOTALS``→
  grouping sets, ``[LEFT] ARRAY JOIN``→LATERAL VIEW [OUTER] explode,
  ``GLOBAL`` hint and ``SETTINGS``/``FORMAT`` tails stripped;
* expression level — combinators (``sumIf`` family with
  ignoreNulls-correct null-sensitive bases; ``-Array``,
  ``-Distinct``, ``-OrNull``; sum/count/min/max ``-State``/``-Merge``
  transpile as native partial/final aggregation — self-merging
  states — avg as the (sum, count) pair, uniq/quantile/
  quantileTiming as portable sketches, argMax/argMin as the extremal
  (value, arg) struct — r9; only genuinely engine-internal registers
  like topKState still refuse), parametric aggregates (``quantile*``,
  ``groupArraySorted``, exact ``topK``; plain one-list forms take
  ClickHouse's documented defaults), analytics aggregates
  (``windowFunnel(W)(ts, c1..cN)`` as an exact max-anchor DP fold,
  ``retention`` flag products, ``sequenceMatch`` ``(?1).*(?2)``
  subsequence form, ``sumMap``/``minMap``/``maxMap`` sorted-RLE
  folds), ``multiIf``, ``to*`` casts, array HOFs with lambda
  rotation, ``[..]`` array literals (``IN [..]`` becomes the list
  form), 1-based ``arr[n]`` subscripts → ``try_element_at``
  (ClickHouse indexes from 1, negatives from the end — exactly
  ``try_element_at``'s contract; out-of-bounds yields NULL here vs
  the element type's default in ClickHouse, the same documented
  miss-value divergence as ``arrayFirst``), the string/regex family,
  approx-register aliases;
* structural rewrites — ``LIMIT [off,]n BY`` → ``row_number()``
  window + filter (the ``limit_by_analog`` pattern, any depth),
  ``ASOF [LEFT] JOIN … USING`` → union + ``last_value``-window plan
  via the catalog resolver (``events_asof_join``'s shape; LATERAL
  top-1 fallback), ``ANY [LEFT] JOIN … USING`` → keyed min-struct
  collapse of the right side, ``ORDER BY x WITH FILL`` →
  ``sequence()`` spine + left join for integer AND date/INTERVAL
  keys, with bare-column ``INTERPOLATE`` as a LOCF carry (the
  ``events_gap_fill`` pattern; missing rows carry NULL, not
  ClickHouse's type defaults), multi-array ``ARRAY JOIN`` →
  ``inline(arrays_zip(...))`` zip semantics, and ``FROM t FINAL`` →
  the engine's explicit collapse read when the table's DDL ran
  through ``ddl.transpile_ddl`` (Replacing and VersionedCollapsing);
* ``ASOF [LEFT] JOIN … ON`` — free-form conjuncts with ≥1 equality
  and exactly one inequality (any of >=, >, <=, <, either operand
  order; keys may be named differently per side) rewrite to the same
  union-window plan, with the window's ts ordering and tie preference
  derived from the inequality's direction and strictness;
* round-7 structural tier — ``LIMIT n WITH TIES`` as a two-pass
  boundary plan (TakeOrderedAndProject over the sort keys + broadcast
  boundary filter; no global window), ``* EXCEPT/REPLACE/APPLY`` star
  modifiers and ``COLUMNS('regex')`` expanded via the catalog
  resolver, fractional ``SAMPLE k [OFFSET m]`` as the deterministic
  hash-range slice on the DDL-captured ``SAMPLE BY`` key,
  expression-key ``WITH FILL`` via a derived column, ``EXPLAIN
  SYNTAX/PLAN`` statement routing in the script runner;
* round-9 tier — ``PASTE JOIN`` of ordered subqueries → row_number
  zip (``_rewrite_paste_join``), deterministic ``groupArraySample``/
  ``groupArrayLast(n)(x, ord)`` tiers, punycode/IDNA/JSONMergePatch
  via stdlib codecs (compat ``ch_idn``/``ch_json_merge_patch``),
  ``LIMIT offset, n``, ``uniqExact(x) OVER w`` (DISTINCT-window
  rewrite), ``initializeAggregation`` state seeding, and the
  runtime pass-through audits' fold family (interval sweeps,
  arrayFill/Split, key-function sorts, bitmap-column aggregates,
  enumerate families) — the whole contract pinned by
  ``tools/passthrough_audit.py``;
* refusals with pointers — constructs whose silent handling would
  change results (``FINAL`` without DDL context, INTERPOLATE
  recurrences, non-subsequence
  ``sequenceMatch``/``sequenceCount`` patterns, ``INTO OUTFILE``,
  block-boundary-dependent ``runningDifference``/``neighbor``,
  order-dependent-in-aggregate ``deltaSum``/``groupArrayMoving*``)
  raise :class:`DialectError` naming the dedicated operator instead
  of surfacing an opaque Spark parse error.

DDL statements have their own transpiler (``ddl.py``), and
:func:`run_clickhouse_script` is the multi-statement migration-runbook
front door: CREATE TABLE / CREATE MATERIALIZED VIEW (+POPULATE) /
INSERT (firing MV triggers) / ALTER DELETE-UPDATE mutations /
OPTIMIZE [FINAL] / queries, in one pass.  MIGRATION.md is the
user-facing map of all of it.

This is a *front-end* — the output is ordinary Spark SQL handed to
``spark.sql``, so Catalyst sees exactly the plan a native query would
produce (pushdown, codegen, AQE all intact).  At 100 TB the transpiled
query is indistinguishable from a hand-written one.

Scale/parity notes: ``uniq`` maps to ``approx_count_distinct`` (both
HLL-family — same role, different registers, so gated queries use
``uniqExact`` and the approx mapping is covered by Spark-vs-Spark
equivalence tests instead); ``quantile`` maps to ``percentile_approx``
(same caveat), ``quantileExact`` to exact interpolated ``percentile``.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from clickhouse_vs_dbt_spark.catalog import (
    load_table,
    rebalanced,
    register_views,
)
from clickhouse_vs_dbt_spark.compat import register_clickhouse_compat

_TOKEN_RE = re.compile(
    r"""
      '(?:[^'\\]|\\.|'')*'              # single-quoted string ('' or \ escape)
    | "(?:[^"]|"")*"                    # double-quoted identifier
    | `[^`]*`                           # backtick identifier
    | [A-Za-z_][A-Za-z0-9_]*            # bare identifier / keyword
    | \d+(?:\.\d+)?(?:[eE][+-]?\d+)?    # number
    | /\*.*?\*/                         # block comment (opaque)
    | --[^\n]*                          # line comment
    | \s+                               # whitespace (preserved)
    | .                                 # any other single character
    """,
    re.VERBOSE | re.DOTALL,
)

_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")

# plain renames: same arity, same argument order
_RENAME = {
    "argMax": "max_by",
    "argMin": "min_by",
    # -Stable statistics: same math, numerically-stable summation —
    # Spark's two-pass merge formulas are the stable tier already
    "corrStable": "corr",
    "covarPopStable": "covar_pop",
    "covarSampStable": "covar_samp",
    "varPopStable": "var_pop",
    "varSampStable": "var_samp",
    "stddevPopStable": "stddev_pop",
    "stddevSampStable": "stddev_samp",
    "groupBitAnd": "bit_and",
    "groupBitOr": "bit_or",
    "groupBitXor": "bit_xor",
    "dateTrunc": "date_trunc",
    "regexpExtract": "regexp_extract",
    "translateUTF8": "translate",
    "initcapUTF8": "initcap",
    "JSONArrayLength": "json_array_length",
    "groupArray": "collect_list",
    "groupUniqArray": "collect_set",
    "uniq": "approx_count_distinct",
    "uniqCombined": "approx_count_distinct",
    "uniqCombined64": "approx_count_distinct",
    "uniqHLL12": "approx_count_distinct",
    "uniqTheta": "approx_count_distinct",
    "toTypeName": "typeof",
    "leftUTF8": "left",
    "rightUTF8": "right",
    "substringIndex": "substring_index",
    "decodeURLComponent": "url_decode",
    "encodeURLComponent": "url_encode",
    "toUnixTimestamp64Milli": "unix_millis",
    "fromUnixTimestamp64Milli": "timestamp_millis",
    "has": "array_contains",
    "arraySort": "array_sort",
    "arrayDistinct": "array_distinct",
    "arrayConcat": "concat",
    "indexOf": "array_position",
    "arrayStringConcat": "array_join",
    "ifNull": "coalesce",
    "assumeNotNull": "coalesce",
    "lcase": "lower",
    "ucase": "upper",
    # string/regex family with engine-exact Spark equivalents
    "match": "regexp_like",
    "replaceRegexpAll": "regexp_replace",
    "replaceAll": "replace",
    "leftPad": "lpad",
    "rightPad": "rpad",
    "trimBoth": "trim",
    "concatWithSeparator": "concat_ws",
    "startsWith": "startswith",
    "endsWith": "endswith",
    "stddevPop": "stddev_pop",
    "stddevSamp": "stddev_samp",
    "varPop": "var_pop",
    "varSamp": "var_samp",
    "covarPop": "covar_pop",
    "covarSamp": "covar_samp",
    "arrayJoin": "explode",
    # array scalars with the argument order already matching Spark
    "arrayMin": "array_min",
    "arrayMax": "array_max",
    "arrayReverse": "reverse",
    "arrayFlatten": "flatten",
    "arraySlice": "slice",
    "arrayCompact": "array_compact",
    "bitShiftLeft": "shiftleft",
    "bitShiftRight": "shiftright",
    "isNaN": "isnan",
    "bitCount": "bit_count",
    "trimLeft": "ltrim",
    "trimRight": "rtrim",
    "reverseUTF8": "reverse",
    "substringUTF8": "substring",
    # positionUTF8 handled by the position register (2- and 3-arg)
    "toUpperUTF8": "upper",
    "toLowerUTF8": "lower",
    "concatAssumeInjective": "concat",
    "overlayUTF8": "overlay",  # JVM strings are UTF-8 native
    "indexOfAssumeSorted": "array_position",  # sortedness is a hint
    "roundBankers": "bround",
    "base64Encode": "base64",
    "mapKeys": "map_keys",
    "mapValues": "map_values",
    "mapContains": "map_contains_key",
    "mapContainsKey": "map_contains_key",  # r13 batch 18 alias
    # r8 batch 6 (third pass-through audit): engine-exact equivalents
    "toLastDayOfMonth": "last_day",
    "toQuarter": "quarter",
    "toDayOfYear": "dayofyear",
    "editDistance": "levenshtein",
    "editDistanceUTF8": "levenshtein",
    "arrayZipUnaligned": "arrays_zip",  # Spark zips pad NULL (CH rule)
}

# array higher-order functions: ClickHouse puts the lambda FIRST
# (`arrayMap(x -> x + 1, arr)`), Spark puts it LAST (`transform(arr,
# x -> x + 1)`); the `x -> expr` lambda syntax itself is shared, so the
# rewrite is a rename + argument rotation.
_HOF_ROTATE = {
    "arrayMap": "transform",
    "arrayFilter": "filter",
    "arrayExists": "exists",
    "arrayAll": "forall",
    # special-cased: get(filter(...), 0).  Deliberate divergence on NO
    # MATCH: ClickHouse returns the element type's default (0, ''),
    # this returns NULL — the SQL-idiomatic miss value; coalesce() the
    # result for CH-identical behavior.
    "arrayFirst": None,
    "arrayCount": None,  # special-cased: size(filter(...))
    # special-cased: ordered aggregate fold.  Deliberate type widening:
    # ClickHouse returns Int64 for integer arrays; this always returns
    # DOUBLE (the fold accumulates in double so one mapping serves int
    # and float arrays).  Integer-exact below 2^53; wrap in toInt64()
    # for CH-identical typing on integer arrays.
    "arraySum": None,
}

# toXxx(x) -> CAST(x AS T)
_CAST = {
    "toInt8": "TINYINT",
    "toInt16": "SMALLINT",
    "toInt32": "INT",
    "toInt64": "BIGINT",
    "toUInt8": "SMALLINT",  # next-wider signed type holds the full range
    "toUInt16": "INT",
    "toUInt32": "BIGINT",
    "toUInt64": "BIGINT",  # documented narrowing: Spark has no UInt64
    "toFloat32": "FLOAT",
    "toFloat64": "DOUBLE",
    "toString": "STRING",
    "toDateTime": "TIMESTAMP",
}

# to<T>OrZero / OrNull / OrDefault defensive-cast family (r11 audit
# batch 13 — these leaked as silent passthroughs): Spark target type,
# the CH-width range guard for the unsigned types whose Spark type is
# wider (None = the Spark type's own range already matches), and the
# CH zero value of the type
_OR_CAST = {
    "toInt8": ("TINYINT", None, "0"),
    "toInt16": ("SMALLINT", None, "0"),
    "toInt32": ("INT", None, "0"),
    "toInt64": ("BIGINT", None, "0"),
    "toUInt8": ("SMALLINT", (0, 255), "0"),
    "toUInt16": ("INT", (0, 65535), "0"),
    "toUInt32": ("BIGINT", (0, 4294967295), "0"),
    # documented narrowing: Spark has no UInt64 — non-negative BIGINT
    "toUInt64": ("BIGINT", (0, 9223372036854775807), "0"),
    "toFloat32": ("FLOAT", None, "CAST(0 AS FLOAT)"),
    "toFloat64": ("DOUBLE", None, "CAST(0 AS DOUBLE)"),
    "toDate": ("DATE", None, "DATE '1970-01-01'"),
    "toDate32": ("DATE", None, "DATE '1900-01-01'"),
    "toDateTime": ("TIMESTAMP", None, "timestamp_seconds(0)"),
    "toDateTime64": ("TIMESTAMP", None, "timestamp_seconds(0)"),
}

# -If combinator bases: CH fnIf(x, cond) == fn over rows where cond
# (the CASE mask's NULLs are skipped by every base here — including
# the collect family, where collect_list/collect_set drop NULLs)
_IF_BASES = {
    "sum": "sum",
    "avg": "avg",
    "min": "min",
    "max": "max",
    "uniq": "approx_count_distinct",
    "any": "any_value",
    "anyLast": "last",
    "argMax": "max_by",
    "argMin": "min_by",
    "stddevPop": "stddev_pop",
    "stddevSamp": "stddev_samp",
    "varPop": "var_pop",
    "varSamp": "var_samp",
    "groupArray": "collect_list",
    "groupUniqArray": "collect_set",
}

# bases whose Spark function RETAINS nulls by default: the CASE mask
# turns non-matching rows into NULLs, so these must pass
# ignoreNulls=true or a trailing non-matching row yields NULL instead
# of the last/any match
_IF_NULL_SENSITIVE = {"any_value", "last"}

# heads whose REGISTER rendering is NULL-skipping in every argument
# (Spark aggregates directly, or folds over collect_list — which
# drops NULL entries), so the -If combinator composes generically:
# mask every argument by the condition and delegate to the head's
# own register (r14 batch 28 — the per-head whitelists left 24
# spellings leaking into unresolved-function errors).  Every head
# here is value-tested against the WHERE-filtered reference
# (tests/test_dialect.py::test_r14_batch28_if_combinators).
_IF_COMPOSED = frozenset((
    "skewPop", "skewSamp", "kurtPop", "kurtSamp", "sumKahan",
    "uniqTheta", "uniqHLL12", "uniqCombined", "uniqCombined64",
    "groupBitOr", "groupBitAnd", "groupBitXor",
    "maxIntersections", "maxIntersectionsPosition",
    "intervalLengthSum", "boundingRatio", "avgWeighted",
    "stddevPopStable", "stddevSampStable", "varPopStable",
    "varSampStable", "sumMap", "minMap", "maxMap", "groupBitmap",
    "sumArray", "minArray", "maxArray", "avgArray", "countArray",
    "uniqArray", "uniqExactArray", "groupArrayArray",
    "sumForEach", "minForEach", "maxForEach", "avgForEach",
    # r15b batch-29 heads: masking the single argument by the
    # condition drops excluded rows at collect (NULL map/array)
    "groupUniqArrayArray", "avgMap", "countMap",
))

# heads whose -If form composes through the SAME mask-and-delegate
# path but whose BASE register refuses (two-level aggregation —
# entropy/cramersV/…): the delegation exists so `entropyIf(x, c)`
# refuses with the base's actionable message instead of leaking an
# unresolved-function error.  NOT value-tested — adding a real base
# register later makes the -If form live, so value-gate it then
# (ADVICE r14: the previous flat set overclaimed these as tested)
_IF_REFUSE_THROUGH = frozenset((
    "entropy", "cramersV", "cramersVBiasCorrected", "theilsU",
))

#: the full -If delegation domain — precomputed (code-review r15a:
#: the inline union allocated a fresh set on every -If dispatch)
_IF_DELEGATED = _IF_COMPOSED | _IF_REFUSE_THROUGH

#: heads ClickHouse documents as SimpleAggregateFunction-compatible
#: (docs: data-types/simpleaggregatefunction): for these the partial
#: state IS the finished value, so the -SimpleState combinator
#: delegates to the base register (r15 batch 29)
_SIMPLE_STATE_HEADS = frozenset((
    "any", "anyLast", "min", "max", "sum", "sumWithOverflow",
    "groupBitAnd", "groupBitOr", "groupBitXor",
    "groupArrayArray", "groupUniqArrayArray",
    "sumMap", "minMap", "maxMap",
))

# ClickHouse aggregate heads with NO portable -State/-Merge algebra
# here (lowercased, digit-stripped): their -State/-Merge forms must
# REFUSE with the supported list rather than pass through into an
# opaque Spark unresolved-function error
_CH_AGG_HEADS = frozenset(
    """topk topkweighted summap minmap maxmap summapfiltered histogram
    grouparrayintersect groupbitmap groupbitand groupbitor groupbitxor
    corr covarpop covarsamp skewpop skewsamp kurtpop kurtsamp sumcount
    sumkahan maxintersections quantiletdigest quantilebfloat
    quantilegk quantiletdigestweighted quantileddsketch sequencematch
    sequencecount windowfunnel retention deltasum deltasumtimestamp
    grouparraymovingavg grouparraymovingsum grouparraysample
    grouparraylast grouparraysorted anyheavy argmax argmin
    exponentialmovingaverage uniqtheta intervalLengthSum
    simplelinearregression stochasticlinearregression
    stochasticlogisticregression largesttrianglethreebuckets
    intervallengthsum groupuniqarrayarray avgmap countmap
    """.lower().split()
)


# keywords after which a `[` must be an array literal, never indexing
# (indexing only ever follows a column/alias identifier or ) / ])
_LITERAL_CONTEXT_KEYWORDS = frozenset(
    """SELECT FROM WHERE THEN WHEN ELSE CASE END AND OR NOT IN AS ON
    HAVING BY SET VALUES RETURN LIKE ILIKE RLIKE ALL ANY DISTINCT UNION
    EXCEPT INTERSECT LIMIT OFFSET BETWEEN IS NULL JOIN GROUP ORDER
    ARRAY""".split()
)


# JSONExtract family → get_json_object (+ cast); simpleJSON*/
# visitParam* are ClickHouse's fast-path aliases of the same contract
_JSON_EXTRACT = {
    "JSONExtractString": None,
    "JSONExtractRaw": None,
    "JSONExtractInt": "BIGINT",
    "JSONExtractUInt": "BIGINT",
    "JSONExtractFloat": "DOUBLE",
    "JSONExtractBool": "BOOLEAN",
    "simpleJSONExtractString": None,
    "simpleJSONExtractRaw": None,
    "simpleJSONExtractInt": "BIGINT",
    "simpleJSONExtractUInt": "BIGINT",
    "simpleJSONExtractFloat": "DOUBLE",
    "simpleJSONExtractBool": "BOOLEAN",
    "visitParamExtractString": None,
    "visitParamExtractRaw": None,
    "visitParamExtractInt": "BIGINT",
    "visitParamExtractUInt": "BIGINT",
    "visitParamExtractFloat": "DOUBLE",
    "visitParamExtractBool": "BOOLEAN",
}

# URL scalar family → parse_url parts (optional post-wrap template)
_URL_PARTS = {
    "domain": ("HOST", None),
    "domainWithoutWWW": ("HOST", "regexp_replace({u}, '^www\\\\.', '')"),
    "protocol": ("PROTOCOL", None),
    "path": ("PATH", None),
    "pathFull": ("PATH", None),  # divergence: query part not appended
    "queryString": ("QUERY", None),
    "fragment": ("REF", None),
    "topLevelDomain": (
        "HOST",
        "regexp_extract({u}, '\\\\.([^.]+)$', 1)",
    ),
}

# ClickHouse formatDateTime uses strftime-style codes; Spark
# date_format takes JDK patterns — literal format strings convert
_STRFTIME_MAP = [
    # MySQL-flavored codes, ClickHouse's formatDateTime/parseDateTime
    # dialect.  %M is the full MONTH NAME and %i the minute — CH's
    # default since 23.1 (formatdatetime_parsedatetime_m_is_month_name
    # = 1); the pre-23.1 %M-as-minute reading is NOT honored here
    # (code-review r13g; MIGRATION.md)
    ("%Y", "yyyy"), ("%y", "yy"), ("%m", "MM"), ("%d", "dd"),
    ("%H", "HH"), ("%M", "MMMM"), ("%i", "mm"), ("%S", "ss"),
    ("%s", "ss"), ("%j", "DDD"), ("%F", "yyyy-MM-dd"),
    ("%T", "HH:mm:ss"), ("%R", "HH:mm"), ("%e", "d"),
    # %c zero-pads in CH's dialect (01-12), unlike MySQL
    ("%c", "MM"), ("%a", "EEE"),
    ("%b", "MMM"), ("%W", "EEEE"), ("%p", "a"), ("%f", "SSSSSS"),
    # %G/%V (week-based year/week) are NOT here: Spark bans
    # week-based patterns since 3.3, so they refuse at transpile
    # time via the unsupported-code check (code-review r13h)
]


def _strftime_to_jdk(fmt: str) -> str:
    # walk code-by-code so LITERAL text between % codes gets
    # single-quoted for the JDK pattern syntax — CH treats non-%
    # characters as literals, while bare letters are reserved JDK
    # pattern chars (code-review r13g: formatDateTime(ts, 'UTC')
    # must print the literal text UTC, not die on pattern 'U').
    # '%%' is a literal percent.
    codes = dict(_STRFTIME_MAP)
    out: list[str] = []
    lit: list[str] = []

    def flush() -> None:
        if lit:
            seg = "".join(lit)
            if any(c.isalpha() for c in seg) or "'" in seg:
                seg = "'" + seg.replace("'", "''") + "'"
            out.append(seg)
            lit.clear()

    i = 0
    while i < len(fmt):
        if fmt[i] == "%":
            if fmt[i:i + 2] == "%%":
                lit.append("%")
                i += 2
                continue
            code = fmt[i:i + 2]
            if code not in codes:
                raise DialectError(
                    f"formatDateTime: unsupported strftime code "
                    f"{code!r} in {fmt!r}"
                )
            flush()
            out.append(codes[code])
            i += 2
        else:
            lit.append(fmt[i])
            i += 1
    flush()
    # every caller embeds the pattern in a single-quoted SQL string
    # literal — double the JDK quote chars so they survive SQL
    # parsing (the parser collapses '' back to one quote)
    return "".join(out).replace("'", "''")


def _ban_dayname_parse(name: str, raw_fmt: str) -> None:
    """Spark forbids 'E' day-name patterns on the PARSE side — even
    try_to_timestamp throws at pattern COMPILE time, so the OrNull /
    OrZero never-throw contracts would break at runtime.  Shared by
    every strftime parse entry point (ADVICE r13: the first cut
    guarded only parseDateTime/parseDateTimeOrNull, so
    parseDateTimeOrZero — and parseDateTime64OrZero, which dispatches
    into it — turned the transpile-time refusal into a runtime
    crash)."""
    for bad in ("%W", "%a"):
        if bad in raw_fmt.replace("%%", ""):
            raise DialectError(
                f"{name}: the {bad} day-name code cannot PARSE "
                "on Spark (week-day patterns are format-only); "
                "drop the day name from the format"
            )


class DialectError(ValueError):
    """Raised for malformed input (unbalanced parens in a call)."""


class DialectWarning(UserWarning):
    """Transpile-time heads-up for a mapping that is deliberately
    DIVERGENT in a documented way (ADVICE r10): the statement still
    maps and runs, but a semantic property a pipeline might rely on
    (e.g. per-row randomness of generateUUIDv4(expr)) differs from
    ClickHouse.  Filterable like any warnings category."""


def _tokens(sql: str) -> list[str]:
    return _TOKEN_RE.findall(sql)


def _literal_capture_groups(name: str, pat: str) -> int:
    """Capture-group count of a LITERAL regex argument (rendered
    token, quotes included) — drives the transpile-time expansion of
    the extractGroups / extractAllGroups* family.  Non-literal
    patterns refuse (the count is unknowable), as does a pattern with
    no groups."""
    if pat[:1] not in "'\"":
        raise DialectError(
            f"{name} needs a literal pattern (the capture-group "
            "count drives the expansion); use regexp_extract[_all]"
            "(s, re, i) for dynamic patterns"
        )
    body, groups, i = pat[1:-1], 0, 0
    in_class = False
    while i < len(body):
        c = body[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            # a '(' inside [...] is a literal, not a group
            # (code-review r11)
            in_class = c != "]"
            i += 1
            continue
        if c == "[":
            in_class = True
        elif c == "(":
            nxt = body[i + 1:i + 2]
            if nxt != "?":
                groups += 1
            elif body[i + 2:i + 3] == "<" and body[i + 3:i + 4] not in (
                "=", "!",
            ):
                # Java named capture (?<name>…) IS numbered
                # (code-review r11); (?<= / (?<! are lookbehinds
                groups += 1
        i += 1
    if not groups:
        raise DialectError(f"{name}: pattern has no capture groups")
    return groups


def _is_ident(tok: str) -> bool:
    return bool(_IDENT_RE.match(tok))


def _is_skippable(tok: str) -> bool:
    return tok.isspace() or tok.startswith("--") or tok.startswith("/*")


def _next_code(toks: list[str], i: int) -> int:
    """Index of the next non-whitespace, non-comment token, or len."""
    while i < len(toks) and _is_skippable(toks[i]):
        i += 1
    return i


def _prev_code(toks: list[str], i: int) -> int:
    """Index of the previous non-whitespace, non-comment token, or -1."""
    while i >= 0 and _is_skippable(toks[i]):
        i -= 1
    return i


# Nesting: every helper below treats ( and [ alike, and sees quotes
# and comments only as the single tokens _TOKEN_RE makes of them.


def _match_close(toks: list[str], open_i: int) -> int:
    """Index of the ) or ] matching the ( or [ at ``open_i``."""
    depth = 0
    for i in range(open_i, len(toks)):
        if toks[i] in ("(", "["):
            depth += 1
        elif toks[i] in (")", "]"):
            depth -= 1
            if depth == 0:
                return i
    raise DialectError("unbalanced parentheses")


def _match_open(toks: list[str], close_i: int) -> int:
    """Index of the ( or [ matching the ) or ] at ``close_i``."""
    depth = 0
    for i in range(close_i, -1, -1):
        if toks[i] in (")", "]"):
            depth += 1
        elif toks[i] in ("(", "["):
            depth -= 1
            if depth == 0:
                return i
    raise DialectError("unbalanced parentheses")


def _top_level(toks: list, start: int = 0, end: int | None = None):
    """Indices of the depth-0 tokens of ``toks[start:end]``, in order.
    An opening bracket is yielded and its group skipped (an unclosed
    group ends the walk); the close of the enclosing group, when the
    walk reaches one, is yielded last."""
    depth = 0
    for i in range(start, len(toks) if end is None else end):
        t = toks[i]
        if depth == 0:
            yield i
        if t in ("(", "["):
            depth += 1
        elif t in (")", "]"):
            if depth == 0:
                return
            depth -= 1


def _split_commas(toks: list[str]) -> list[list[str]]:
    """Split a token span on depth-0 commas."""
    parts, s = [], 0
    for i in _top_level(toks):
        if toks[i] == ",":
            parts.append(toks[s:i])
            s = i + 1
    parts.append(toks[s:])
    return parts


def _parse_args(
    toks: list[str], lparen: int, open_: str = "(", close: str = ")"
) -> tuple[list[str], int]:
    """Parse a balanced ``(...)`` (or ``[...]``) starting at ``lparen``;
    return the top-level comma-split arguments (each recursively
    transpiled) and the index just past the closing delimiter.
    ``()`` → []."""
    start = lparen + 1
    spans: list[tuple[int, int]] = []
    for i in _top_level(toks, start):
        t = toks[i]
        if t == ",":
            spans.append((start, i))
            start = i + 1
        elif t in (")", "]"):
            if t != close:
                raise DialectError("mismatched () / [] nesting")
            spans.append((start, i))
            # drop_comments: args are re-joined onto one line, so a
            # trailing `-- comment` would swallow the separator
            args = [
                _walk(toks, a, b, drop_comments=True).strip()
                for a, b in spans
                if _next_code(toks, a) < b or len(spans) > 1
            ]
            return args, i + 1
    raise DialectError("unbalanced parentheses in function call")


def _case_chain(args: list[str]) -> str:
    """multiIf(c1, v1, ..., else) → CASE WHEN ... END."""
    if len(args) < 3 or len(args) % 2 == 0:
        raise DialectError(f"multiIf needs odd arity >= 3, got {len(args)}")
    pairs = [
        f"WHEN {args[i]} THEN {args[i + 1]}" for i in range(0, len(args) - 1, 2)
    ]
    return f"CASE {' '.join(pairs)} ELSE {args[-1]} END"


def _topk_exact(x: str, k: str) -> str:
    """Exact deterministic top-k-by-frequency as one aggregate
    expression (ClickHouse ``topK(k)(x)``'s exact tier).

    Sort the group's values, run-length-encode them with a JVM-side
    ``aggregate()`` fold (the typed empty accumulator comes from
    ``transform(slice(sorted, 1, 0), ...)`` so no element type needs
    to be known at transpile time), sort (count desc, value asc) and
    slice k.  All whole-stage-codegen; O(group) state like
    ``groupArraySorted``.  ClickHouse's ``topK`` is an approximate
    sketch — this is the deterministic exact tier (documented
    divergence: exact counts, value-ordered ties); the sketch-shaped
    scale operator is ``events_topk_sketch``.
    """
    sorted_ = f"sort_array(collect_list({x}))"
    zero = (
        f"transform(slice({sorted_}, 1, 0), "
        f"v -> named_struct('v', v, 'c', CAST(0 AS BIGINT)))"
    )
    step = (
        "(acc, v) -> IF(size(acc) > 0 AND element_at(acc, -1).v = v, "
        "concat(slice(acc, 1, size(acc) - 1), "
        "array(named_struct('v', v, 'c', element_at(acc, -1).c + 1))), "
        "concat(acc, array(named_struct('v', v, 'c', CAST(1 AS BIGINT)))))"
    )
    cmp = (
        "(a, b) -> CASE WHEN a.c > b.c THEN -1 WHEN a.c < b.c THEN 1 "
        "WHEN a.v < b.v THEN -1 WHEN a.v > b.v THEN 1 ELSE 0 END"
    )
    return (
        f"transform(slice(array_sort(aggregate({sorted_}, {zero}, "
        f"{step}), {cmp}), 1, {k}), s -> s.v)"
    )


def _topk_weighted_exact(x: str, w: str, k: str) -> str:
    """Exact deterministic weighted top-k (ClickHouse
    ``topKWeighted(k)(x, w)``'s exact tier): per group, SUM the
    weights per value, order (weight desc, value asc), keep k.  Same
    RLE-fold construction as :func:`_topk_exact` with the +1 count
    replaced by the value's weight; ClickHouse's sketch is
    approximate — this is the deterministic exact tier (the dedicated
    scale operator is ``events_topk_weighted``)."""
    sorted_ = (
        f"sort_array(collect_list(named_struct('v', {x}, "
        f"'w', CAST({w} AS BIGINT))))"
    )
    zero = (
        f"transform(slice({sorted_}, 1, 0), "
        f"s -> named_struct('v', s.v, 'c', CAST(0 AS BIGINT)))"
    )
    step = (
        "(acc, s) -> IF(size(acc) > 0 AND element_at(acc, -1).v = s.v, "
        "concat(slice(acc, 1, size(acc) - 1), "
        "array(named_struct('v', s.v, 'c', element_at(acc, -1).c + s.w))), "
        "concat(acc, array(named_struct('v', s.v, 'c', s.w))))"
    )
    cmp = (
        "(a, b) -> CASE WHEN a.c > b.c THEN -1 WHEN a.c < b.c THEN 1 "
        "WHEN a.v < b.v THEN -1 WHEN a.v > b.v THEN 1 ELSE 0 END"
    )
    return (
        f"transform(slice(array_sort(aggregate({sorted_}, {zero}, "
        f"{step}), {cmp}), 1, {k}), s -> s.v)"
    )


def _sequence_count_fold(ts: str, conds: list[str]) -> str:
    """ClickHouse ``sequenceCount('(?1).*(?2)…')(ts, c1…cN)`` — count
    of NON-OVERLAPPING subsequence matches with ClickHouse's restart
    semantics (after a chain completes, the scan resumes AFTER its
    last event; pending partial progress is discarded).  One integer-
    state codegen fold over the time-sorted condition vectors:
    ``state = chains·N + stage`` — an event matching the needed
    ``stage+1`` condition advances the stage; completing stage N
    increments the chain count and resets.  Same collect/sort/fold
    shape as :func:`_window_funnel_fold` — bounded per-group state,
    one keyed shuffle."""
    n = len(conds)
    cs = ", ".join(conds)
    sorted_ = (
        f"transform(sort_array(collect_list(named_struct('t', {ts}, "
        f"'cs', array({cs})))), s -> s.cs)"
    )
    step = (
        f"(s, cs) -> CASE WHEN element_at(cs, CAST(s % {n} + 1 AS INT)) "
        f"THEN IF(s % {n} = {n - 1}, (s div {n} + 1) * {n}, s + 1) "
        "ELSE s END"
    )
    return (
        f"(aggregate({sorted_}, CAST(0 AS BIGINT), {step}) div {n})"
    )


def _window_funnel_fold(win_us: str, ts: str, conds: list[str]) -> str:
    """Generic ClickHouse ``windowFunnel(W)(ts, c1, …, cN)`` as one
    codegen aggregate fold — the N-condition generalization of the
    ``events_funnel_window`` automaton.

    Exact max-anchor DP: events sort by time; state is ``a[i]`` = the
    LATEST chain-start timestamp over all strictly-increasing chains
    matching ``c1..ci`` seen so far (latest is the right extremal —
    any extension needs ``ts − anchor ≤ W``, and the latest anchor is
    the closest).  Each event updates all levels from the PREVIOUS
    state (an event never chains onto itself), which makes the fold
    exact under unique event timestamps — ClickHouse's own
    implementation is the same one-anchor-per-level greedy.  Result =
    number of non-NULL levels (NULLs are always a suffix).  All
    JVM-side ``transform``/``aggregate`` HOFs: one keyed shuffle when
    used under GROUP BY, no Python, O(N) state per group."""
    n = len(conds)
    elem = (
        f"struct(unix_micros(CAST({ts} AS TIMESTAMP)) AS t, "
        f"array({', '.join(conds)}) AS m)"
    )
    # events matching NO condition leave the DP state untouched, so
    # they are dropped before they ever reach the per-group array:
    # collect_list skips NULLs, making the CASE a map-side prefilter —
    # per-group state holds only condition-relevant events (the same
    # chain-type prefilter q_events_funnel_window applies by hand).
    any_cond = " OR ".join(f"coalesce(({c}), false)" for c in conds)
    evs = (
        f"sort_array(collect_list(CASE WHEN {any_cond} "
        f"THEN {elem} END))"
    )
    zero = f"array_repeat(CAST(NULL AS BIGINT), {n})"
    step = (
        "(acc, e) -> transform(acc, (a, i) -> CASE "
        "WHEN NOT coalesce(element_at(e.m, i + 1), false) THEN a "
        "WHEN i = 0 THEN greatest(coalesce(a, e.t), e.t) "
        "WHEN element_at(acc, i) IS NOT NULL "
        f"AND e.t - element_at(acc, i) <= {win_us} "
        "THEN greatest(coalesce(a, element_at(acc, i)), "
        "element_at(acc, i)) ELSE a END)"
    )
    fin = "acc -> size(filter(acc, x -> x IS NOT NULL))"
    return f"aggregate({evs}, {zero}, {step}, {fin})"


def _window_funnel_modes_fold(
    win_us: str,
    ts: str,
    conds: list[str],
    strict_order: bool,
    strict_dedup: bool,
    strict_increase: bool,
) -> str:
    """windowFunnel with ClickHouse's mode flags (r8), mirroring the
    documented mode semantics over per-EVENT processing:

    * per level the state keeps ``(a, l)`` = (chain-start anchor,
      timestamp of the event that completed the level) — exactly the
      ``{first, second}`` pair ClickHouse's own greedy keeps;
    * ``strict_increase``: advancing level ``i`` additionally needs
      ``e.t > lv[i-1].l`` (strictly increasing event times);
    * ``strict_dedup``: an event matching a condition whose level is
      ALREADY set freezes the search at the level reached (CH:
      "repeating event interrupts further search");
    * ``strict_order``: once the chain has started (a cond-1 event
      seen), an event matching NO condition — or matching a
      condition whose predecessor level is unset — freezes the
      search; cond-1 refreshes and window-expired advances do NOT
      break (CH's exact break rules).  strict_order is the one mode
      whose fold must see the FULL event stream (a non-matching
      event is exactly what breaks it), so its map-side prefilter is
      disabled; the other modes keep it.

    Divergence note: ClickHouse processes one (ts, cond) ENTRY per
    matched condition, so an event matching several conditions can
    self-chain; this fold processes per event from the previous
    state (no self-chaining), identical for the usual
    mutually-exclusive conditions and unique timestamps — the same
    contract as the base fold."""
    n = len(conds)
    elem = (
        f"named_struct('t', unix_micros(CAST({ts} AS TIMESTAMP)), "
        f"'m', array({', '.join(conds)}))"
    )
    if strict_order:
        evs = f"sort_array(collect_list({elem}))"
    else:
        any_cond = " OR ".join(
            f"coalesce(({c}), false)" for c in conds
        )
        evs = (
            f"sort_array(collect_list(CASE WHEN {any_cond} "
            f"THEN {elem} END))"
        )
    null_lv = (
        "named_struct('a', CAST(NULL AS BIGINT), "
        "'l', CAST(NULL AS BIGINT))"
    )
    zero = (
        f"named_struct('lv', array_repeat({null_lv}, {n}), "
        "'dead', false, 'st', false)"
    )
    branches = []
    for j in range(n):
        hit = f"coalesce(element_at(e.m, {j + 1}), false)"
        if j == 0:
            upd = (
                "named_struct('a', greatest(coalesce(s.a, e.t), e.t), "
                "'l', e.t)"
            )
            feas = hit
        else:
            prev = f"element_at(acc.lv, {j})"
            feas = (
                f"{hit} AND {prev}.a IS NOT NULL "
                f"AND e.t - {prev}.a <= {win_us}"
            )
            if strict_increase:
                feas += f" AND e.t > {prev}.l"
            upd = (
                f"named_struct('a', greatest(coalesce(s.a, {prev}.a), "
                f"{prev}.a), 'l', e.t)"
            )
        branches.append(f"WHEN i = {j} THEN IF({feas}, {upd}, s)")
    new_lv = (
        "transform(acc.lv, (s, i) -> "
        f"CASE {' '.join(branches)} ELSE s END)"
    )
    dead_terms = []
    if strict_dedup:
        dead_terms.append(
            f"size(filter(sequence(1, {n}), i -> "
            "coalesce(element_at(e.m, i), false) "
            "AND element_at(acc.lv, i).a IS NOT NULL)) > 0"
        )
    if strict_order:
        anym = "exists(e.m, b -> coalesce(b, false))"
        blocked = (
            f"size(filter(sequence(2, {n}), i -> "
            "coalesce(element_at(e.m, i), false) "
            "AND element_at(acc.lv, i - 1).a IS NULL)) > 0"
        )
        started = (
            "(acc.st OR coalesce(element_at(e.m, 1), false))"
        )
        dead_terms.append(
            f"({started} AND (NOT {anym} OR {blocked}))"
        )
    dead = " OR ".join(f"({d})" for d in dead_terms) or "false"
    step = (
        "(acc, e) -> IF(acc.dead, acc, named_struct("
        f"'lv', IF({dead}, acc.lv, {new_lv}), "
        f"'dead', {dead}, "
        "'st', acc.st OR coalesce(element_at(e.m, 1), false)))"
    )
    fin = "acc -> size(filter(acc.lv, s -> s.a IS NOT NULL))"
    return f"aggregate({evs}, {zero}, {step}, {fin})"


_SEQ_PATTERN_RE = re.compile(r"\(\?(\d+)\)")

_SEQ_TOK_RE = re.compile(
    r"\(\?(\d+)\)"                                   # (?N) condition ref
    r"|\(\?t\s*(<=|>=|==|<|>|=)\s*(\d+)\s*\)"        # (?t OP n) guard
    r"|(\.\*)"                                       # .* any-gap
    r"|\s+"
)


def _parse_sequence_pattern(pattern: str):
    """Parse a ClickHouse sequenceMatch pattern into ``(refs,
    links)``: ``refs`` is the 1-based condition index per matched
    position, ``links[i]`` describes what may separate ref ``i`` and
    ``i+1`` — ``('adj',)`` for bare concatenation (the next RELEVANT
    event must match: events matching no supplied condition are
    invisible, per CH's documented example), ``('any',)`` for
    ``.*``, or ``('guard', uppers, lowers)`` for time guards
    (``(?t<n)`` caps the gap, ``(?t>n)`` floors it, ``(?t==n)``
    pins it; CH documents that a guard admits arbitrary events
    between, so a guard link does NOT imply adjacency).  Guard
    tuples carry ``(uppers, lowers, exacts)``; single-sided guards
    resolve against per-level extremal anchors, while mixed or
    exact guards switch the fold to per-level anchor LISTS (same
    memory class as the collected event array the fold already
    holds — CH's own sequenceMatch buffers the full group too)."""
    body = pattern.strip().strip("'")
    refs: list[int] = []
    links: list[tuple] = []
    saw_any = False
    uppers: list[tuple[str, int]] = []
    lowers: list[tuple[str, int]] = []
    exacts: list[tuple[str, int]] = []
    pos = 0
    while pos < len(body):
        m = _SEQ_TOK_RE.match(body, pos)
        if not m:
            raise DialectError(
                f"unrecognized sequenceMatch pattern text at "
                f"{body[pos:pos + 12]!r} (supported: (?N), .*, "
                "(?t<n)/(?t<=n)/(?t>n)/(?t>=n))"
            )
        pos = m.end()
        if m.group(1):
            if refs and not (saw_any or uppers or lowers or exacts):
                links.append(("adj",))
            elif refs:
                if uppers or lowers or exacts:
                    links.append((
                        "guard", tuple(uppers), tuple(lowers),
                        tuple(exacts),
                    ))
                else:
                    links.append(("any",))
            elif uppers or lowers or exacts:
                raise DialectError(
                    "sequenceMatch time guard before the first "
                    "condition reference has nothing to anchor to"
                )
            refs.append(int(m.group(1)))
            saw_any = False
            uppers, lowers, exacts = [], [], []
        elif m.group(2):
            op, secs = m.group(2), int(m.group(3))
            if op in ("==", "="):
                exacts.append(("=", secs))
            else:
                (uppers if op in ("<", "<=") else lowers).append(
                    (op, secs)
                )
        # group(4) '.*' / whitespace: mark and continue
        elif m.group(4):
            saw_any = True
    if not refs:
        raise DialectError("sequenceMatch pattern has no (?N) refs")
    if saw_any or uppers or lowers or exacts:
        # trailing .* is a no-op; a trailing guard dangles
        if uppers or lowers or exacts:
            raise DialectError(
                "sequenceMatch time guard after the last condition "
                "reference has nothing to anchor to"
            )
    return refs, links


def _sequence_match_fold(
    ts: str, conds: list[str], refs: list[int], links: list[tuple]
) -> str:
    """Generalized ``sequenceMatch`` DP fold (adjacency + single-sided
    time guards; r8, VERDICT r7 item 4).

    Per pattern position ``i`` the state keeps the (min, max, last)
    event times over all events that can END a match of refs
    ``1..i`` — min answers lower-bound guards, max upper-bound
    guards and plain reachability, ``last`` (+ the previous event's
    time) answers adjacency (the immediately preceding RELEVANT
    event extended position ``i``).  Each event updates every
    position from the PREVIOUS state (no self-chaining), so the fold
    is exact under unique event timestamps like the windowFunnel DP
    it generalizes.  Irrelevant events (no supplied condition
    matches) are dropped map-side — ClickHouse's documented
    visibility rule — so per-group state holds only relevant events
    and the whole match is one keyed codegen aggregate."""
    n = len(refs)
    elem = (
        f"named_struct('t', unix_micros(CAST({ts} AS TIMESTAMP)), "
        f"'m', array({', '.join(conds)}))"
    )
    any_cond = " OR ".join(f"coalesce(({c}), false)" for c in conds)
    evs = (
        f"sort_array(collect_list(CASE WHEN {any_cond} "
        f"THEN {elem} END))"
    )
    null_lv = (
        "named_struct('mn', CAST(NULL AS BIGINT), "
        "'mx', CAST(NULL AS BIGINT), 'la', CAST(NULL AS BIGINT))"
    )
    zero = (
        f"named_struct('lv', array_repeat({null_lv}, {n}), "
        f"'p', CAST(NULL AS BIGINT))"
    )
    gain = (
        "named_struct('mn', least(coalesce(a.mn, e.t), e.t), "
        "'mx', greatest(coalesce(a.mx, e.t), e.t), 'la', e.t)"
    )
    branches = []
    for j in range(n):
        hit = f"coalesce(element_at(e.m, {refs[j]}), false)"
        if j == 0:
            feas = "true"
        else:
            prev = f"element_at(acc.lv, {j})"
            link = links[j - 1]
            if link[0] == "any":
                feas = f"{prev}.mx IS NOT NULL"
            elif link[0] == "adj":
                feas = (
                    f"{prev}.la IS NOT NULL AND acc.p IS NOT NULL "
                    f"AND {prev}.la = acc.p"
                )
            else:  # single-sided guards (mixed/exact take the
                # anchor-list fold, dispatched before this one)
                _, ups, los, _exs = link
                cl = []
                for op, secs in ups:
                    cl.append(
                        f"{prev}.mx IS NOT NULL AND "
                        f"e.t - {prev}.mx {op} {secs * 1_000_000}"
                    )
                for op, secs in los:
                    cl.append(
                        f"{prev}.mn IS NOT NULL AND "
                        f"e.t - {prev}.mn {op} {secs * 1_000_000}"
                    )
                feas = " AND ".join(f"({c})" for c in cl)
        branches.append(
            f"WHEN i = {j} THEN IF(({hit}) AND ({feas}), {gain}, a)"
        )
    step = (
        "(acc, e) -> named_struct('lv', transform(acc.lv, (a, i) -> "
        f"CASE {' '.join(branches)} ELSE a END), 'p', e.t)"
    )
    fin = (
        f"acc -> CAST(IF(element_at(acc.lv, {n}).mx IS NOT NULL, "
        "1, 0) AS SMALLINT)"
    )
    return f"aggregate({evs}, {zero}, {step}, {fin})"


def _needs_anchor_lists(links: list[tuple]) -> bool:
    """True when some guard link is two-sided or exact — the
    extremal (min, max) anchors can't decide those existence
    questions; the fold must keep every anchor time per level."""
    return any(
        k[0] == "guard" and (k[3] or (k[1] and k[2])) for k in links
    )


def _sequence_match_fold_anchors(
    ts: str, conds: list[str], refs: list[int], links: list[tuple]
) -> str:
    """``sequenceMatch`` fold for two-sided / exact time guards (r8):
    per pattern position the state keeps the ASCENDING LIST of all
    event times that completed refs ``1..i`` (events are folded in
    time order, so plain append stays sorted — the first element is
    the extremal min, the last the max/latest).  A guard link tests
    ``exists(anchors, a -> every guard op holds for e.t - a)`` —
    all guards on one link constrain the SAME gap, hence the same
    anchor.  Memory is O(relevant events × positions), the same
    class as the collected event array (and as ClickHouse's own
    buffered-group implementation); single-sided-only patterns keep
    the O(1)-state extremal fold instead."""
    n = len(refs)
    elem = (
        f"named_struct('t', unix_micros(CAST({ts} AS TIMESTAMP)), "
        f"'m', array({', '.join(conds)}))"
    )
    any_cond = " OR ".join(f"coalesce(({c}), false)" for c in conds)
    evs = (
        f"sort_array(collect_list(CASE WHEN {any_cond} "
        f"THEN {elem} END))"
    )
    zero = (
        f"named_struct('lv', array_repeat(CAST(array() AS "
        f"ARRAY<BIGINT>), {n}), 'p', CAST(NULL AS BIGINT))"
    )
    gain = "concat(a, array(e.t))"
    branches = []
    for j in range(n):
        hit = f"coalesce(element_at(e.m, {refs[j]}), false)"
        if j == 0:
            feas = "true"
        else:
            prev = f"element_at(acc.lv, {j})"
            link = links[j - 1]
            if link[0] == "any":
                feas = f"size({prev}) > 0"
            elif link[0] == "adj":
                feas = (
                    f"size({prev}) > 0 AND acc.p IS NOT NULL "
                    f"AND element_at({prev}, -1) = acc.p"
                )
            else:
                _, ups, los, exs = link
                gap_ops = [
                    f"e.t - __a {op} {secs * 1_000_000}"
                    for op, secs in (*ups, *los, *exs)
                ]
                feas = (
                    f"exists({prev}, __a -> "
                    + " AND ".join(f"({c})" for c in gap_ops)
                    + ")"
                )
        branches.append(
            f"WHEN i = {j} THEN IF(({hit}) AND ({feas}), {gain}, a)"
        )
    step = (
        "(acc, e) -> named_struct('lv', transform(acc.lv, (a, i) -> "
        f"CASE {' '.join(branches)} ELSE a END), 'p', e.t)"
    )
    fin = (
        f"acc -> CAST(IF(size(element_at(acc.lv, {n})) > 0, "
        "1, 0) AS SMALLINT)"
    )
    return f"aggregate({evs}, {zero}, {step}, {fin})"


def _sequence_chain_len(pattern: str) -> int:
    """Validate a ``'(?1).*(?2)…'`` sequenceMatch pattern (the
    any-gap subsequence form) and return its chain length; other
    pattern features (adjacency, time guards ``(?t<=n)``) refuse."""
    body = pattern.strip().strip("'")
    idxs = [int(m) for m in _SEQ_PATTERN_RE.findall(body)]
    canonical = ".*".join(f"(?{i})" for i in range(1, len(idxs) + 1))
    if idxs != list(range(1, len(idxs) + 1)) or body != canonical:
        raise DialectError(
            f"sequenceMatch pattern {pattern} is not the (?1).*(?2)… "
            "subsequence form; use the dedicated operators "
            "(events_sequence_match / events_funnel_strict_order)"
        )
    return len(idxs)


# --- portable uniq/quantile -State/-Merge registers ---------------
#
# ClickHouse's uniqState/quantileState are engine-internal byte blobs;
# the portable equivalents below re-express the STATE ALGEBRA (build
# partial, store, MAX/concat-merge, finalize) over plain Spark values,
# so AggregatingMergeTree rollups migrate without rows-only gates:
#
# * uniqState → the repo's HLL register sketch (operators/hll.py,
#   p=8): state = sorted set of (bucket·64 + rank) codes — BOUNDED
#   (≤ 256·53 entries regardless of input size), order-free, and
#   MAX-mergeable by construction (merging code sets then taking the
#   per-bucket max rank equals sketching the union).  uniqMerge
#   finalizes with the standard HLL estimator + linear counting.
#   Estimates differ from ClickHouse's own uniq (different hash), as
#   any re-implementation must; uniq is documented approximate.
# * quantileState/quantileExactState → the exact sorted multiset
#   (ClickHouse's OWN quantileExact state is all values; for plain
#   quantile this upgrades the nondeterministic reservoir to a
#   deterministic exact value — documented strictness upgrade).
#   State grows with group rows, exactly as CH quantileExact's does.
# * quantileTimingState → the value-binned sketch (CH-documented
#   domain: 1ms precision, clamped to [0, 30000]): state is the
#   run-length (value, count) encoding of the clamped multiset —
#   BOUNDED at ≤ 30001 entries once compacted, concat-mergeable.

_HLL_M = 256  # registers (p=8) — matches operators/hll.py


def _hll_num() -> str:
    from clickhouse_vs_dbt_spark.operators.hll import M, _NUM

    assert M == _HLL_M
    return _NUM


def _uniq_state_sql(x: str) -> str:
    """(bucket, rank) code set of the HLL(p=8) sketch of ``x``.

    The md5-prefix hash is bound ONCE per row through a one-element
    ``transform`` (r16, guide §1.2): the register code references the
    hash three times (bucket, zero-guard, rank), and Catalyst's
    interpreted aggregate-child evaluation has no common-subexpression
    elimination — the old inline spelling computed md5+conv three
    times per input row (measured ~2× the state-build cost on
    dialect_state_merge3).  Same arithmetic on the same hash value —
    bit-identical codes."""
    from clickhouse_vs_dbt_spark.operators.dedup import md5p_sql

    h = md5p_sql(f"CAST({x} AS STRING)", "spark")
    rank = (
        f"CASE WHEN __uh div {_HLL_M} = 0 THEN 53 "
        f"ELSE 53 - length(bin(__uh div {_HLL_M})) END"
    )
    return (
        f"sort_array(collect_set(element_at(transform(array({h}), "
        f"__uh -> CAST(__uh % {_HLL_M} * 64 + ({rank}) AS INT)), 1)))"
    )


def _uniq_finalize_sql(ents_expr: str) -> str:
    """Per-ROW HLL estimate from a (bucket, rank) code-set expression
    — the read-off half of the portable uniq state, shared by
    uniqMerge (over a freshly merged set) and the MV read view (over
    a stored state column, ddl.py).

    r17 (guide §1.2): the old register read-off ran one ``filter``
    over the WHOLE code set per bucket — 256 × |ents| interpreted
    lambda invocations per output row (~3.3 M on a merged sf0.1
    state; measured ~0.2 s/row of pure finalize).  Codes are
    ``bucket·64 + rank`` with rank ≤ 53 < 64, so on the SORTED set
    each bucket's codes are contiguous and its per-bucket max rank is
    the run's LAST element — one adjacency filter finds every
    present bucket's max in O(|ents|), and the denominator adds the
    absent buckets in closed form ((m − seen)·2⁵³).  Integer sums
    reassociate exactly, so the estimate is bit-identical to the old
    spelling (A/B-verified on the state_merge gates).  The input is
    sorted defensively — the uniqMerge flatten concatenates sorted
    runs, which is NOT globally sorted."""
    m, scale = _HLL_M, 1 << 53
    # present-bucket maxima: positions whose NEXT code starts a new
    # bucket (the out-of-range element_at at the last position is
    # NULL; `x != NULL` is NULL and the OR's first disjunct is true)
    mx = (
        "CASE WHEN size(__ue) = 0 THEN CAST(array() AS ARRAY<INT>) "
        "ELSE filter(sequence(1, size(__ue)), __ui -> "
        "__ui = size(__ue) OR element_at(__ue, __ui) div 64 != "
        "element_at(__ue, __ui + 1) div 64) END"
    )
    raw = f"{_hll_num()} / CAST(__ud AS DOUBLE)"
    est = (
        f"CASE WHEN {raw} <= 2.5 * {m} AND __un < {m} "
        f"THEN {m} * ln(CAST({m} AS DOUBLE) / ({m} - __un)) "
        f"ELSE {raw} END"
    )
    den = (
        "aggregate(__um, CAST(0 AS BIGINT), (__ua, __ub) -> __ua + "
        "shiftleft(CAST(1 AS BIGINT), "
        "53 - element_at(__ue, __ub) % 64)) "
        f"+ CAST({m} - __un AS BIGINT) * CAST({scale} AS BIGINT)"
    )
    return (
        f"transform(array(sort_array({ents_expr})), __ue -> "
        f"element_at(transform(array({mx}), __um -> "
        "element_at(transform(array(size(__um)), __un -> "
        f"element_at(transform(array({den}), __ud -> "
        f"CAST(floor({est} + 0.5) AS BIGINT)), 1)), 1)), 1))[0]"
    )


def _uniq_merge_sql(st: str, restate: bool) -> str:
    """Merge uniq states; ``restate`` re-emits the merged code set
    (uniqMergeState), else finalizes to the BIGINT estimate."""
    merged = f"array_distinct(flatten(collect_list({st})))"
    if restate:
        return f"sort_array({merged})"
    return _uniq_finalize_sql(merged)


def _q_state_sql(x: str) -> str:
    """Exact-multiset quantile state: the sorted value array."""
    return f"sort_array(collect_list(CAST({x} AS DOUBLE)))"


def _q_finalize_sql(st_expr: str, level: str) -> str:
    """Per-ROW (n-1)·p linear interpolation over a sorted-multiset
    state expression (Spark ``percentile`` / SQL percentile_cont
    semantics, matching the plain quantileExact mapping) — shared by
    quantileMerge and the MV read view (ddl.py)."""
    h = f"(CAST(size(L) - 1 AS DOUBLE) * CAST({level} AS DOUBLE))"
    lo = f"CAST(floor({h}) AS INT)"
    # (1-d)·lower + d·higher — Spark percentile's own arithmetic
    # shape, so merged-state results are bit-identical to the plain
    # quantileExact mapping (and the last-ulp rounding matches)
    interp = (
        f"(1.0D - ({h} - floor({h}))) * element_at(L, {lo} + 1) "
        f"+ ({h} - floor({h})) * "
        f"element_at(L, least({lo} + 2, size(L)))"
    )
    return (
        f"transform(array({st_expr}), L -> "
        f"CASE WHEN size(L) = 0 THEN CAST(NULL AS DOUBLE) "
        f"ELSE {interp} END)[0]"
    )


def _q_merge_sql(st: str, level: str, restate: bool) -> str:
    """Merge sorted-multiset quantile states; finalize per
    :func:`_q_finalize_sql`."""
    merged = f"sort_array(flatten(collect_list({st})))"
    if restate:
        return merged
    return _q_finalize_sql(merged, level)


def _qt_clamp_sql(x: str) -> str:
    # CH quantileTiming domain: 1ms precision, [0, 30000]; floor(x+.5)
    # rounds half-up identically on any engine (no banker's rounding)
    return (
        f"CAST(least(30000, greatest(0, "
        f"CAST(floor(CAST({x} AS DOUBLE) + 0.5) AS INT))) AS INT)"
    )


def _qt_state_sql(x: str) -> str:
    """Run-length (v, c) encoding of the clamped-int multiset —
    bounded at ≤ 30001 entries once compacted.

    r17 (guide §1.2): the old spelling built the encoding with an
    ``aggregate`` fold whose accumulator was a growing
    (arrays, cur, n) struct — one interpreted struct re-allocation
    per element plus an array concat per distinct value; at sf0.1 it
    was the single most expensive term of dialect_state_merge3
    (measured 1.75 s of the gate's 2.2 s).  Run boundaries of the
    SORTED value list are just the positions whose value differs
    from their predecessor, so one adjacency ``filter`` finds every
    run start and a ``zip_with`` against the shifted starts emits
    (value, run length) directly — 0.31 s for the identical state
    (A/B-verified element-for-element)."""
    rle = (
        "CASE WHEN size(L) = 0 "
        "THEN CAST(array() AS ARRAY<STRUCT<v: INT, c: BIGINT>>) "
        "ELSE element_at(transform(array("
        "filter(sequence(1, size(L)), __qi -> __qi = 1 "
        "OR element_at(L, __qi) != element_at(L, __qi - 1))), "
        "__qs -> zip_with(__qs, "
        "concat(slice(__qs, 2, size(__qs) - 1), array(size(L) + 1)), "
        "(__qa, __qb) -> named_struct('v', element_at(L, __qa), "
        "'c', CAST(__qb - __qa AS BIGINT)))), 1) END"
    )
    return (
        f"transform(array(sort_array(collect_list("
        f"{_qt_clamp_sql(x)}))), L -> {rle})[0]"
    )


def _qt_merge_sql(st: str, level: str, restate: bool) -> str:
    """Merge run-length timing states (entries with repeated v are a
    valid state — the read-off fold accumulates per ENTRY in sorted
    order); finalize = smallest v whose cumulative count reaches
    ceil(level·n) (exact integer arithmetic, no float read-off)."""
    merged = f"sort_array(flatten(collect_list({st})))"
    if restate:
        return merged
    total = "aggregate(E, CAST(0 AS BIGINT), (a, e) -> a + e.c)"
    pos = (
        f"greatest(CAST(1 AS BIGINT), "
        f"CAST(ceil(CAST({level} AS DECIMAL(9, 6)) * {total}) "
        f"AS BIGINT))"
    )
    walk = (
        "aggregate(E, named_struct('acc', CAST(0 AS BIGINT), "
        "'ans', CAST(NULL AS INT)), "
        "(a, e) -> CASE WHEN a.ans IS NOT NULL THEN a "
        "WHEN a.acc + e.c >= pos THEN "
        "named_struct('acc', a.acc + e.c, 'ans', e.v) "
        "ELSE named_struct('acc', a.acc + e.c, 'ans', a.ans) END, "
        "a -> CAST(a.ans AS DOUBLE))"
    )
    return (
        f"transform(array({merged}), E -> "
        f"transform(array({pos}), pos -> {walk})[0])[0]"
    )


def _literal_json_steps(args: list[str]) -> str | None:
    """Encode CH ``indices_or_keys`` path arguments as a SQL string
    literal holding a JSON list (consumed by the compat.py stdlib
    path-walk UDFs).  Steps must be simple literals — a quoted string
    without escapes, or a (possibly negative) integer; anything else
    returns None so the caller can refuse with a pointer."""
    import json as _j

    steps: list = []
    for a in args:
        a = a.strip()
        if (
            len(a) >= 2 and a[0] == a[-1] and a[0] in "'\""
            and "\\" not in a and a[0] not in a[1:-1]
        ):
            steps.append(a[1:-1])
        elif re.fullmatch(r"-?\d+", a):
            steps.append(int(a))
        else:
            return None
    # the encoded JSON rides inside a single-quoted Spark literal with
    # backslash escapes ACTIVE: double every backslash json.dumps
    # emitted (a key like he"llo encodes as \" — un-doubled, Spark
    # would unescape it back into invalid JSON and the walk would
    # silently return the miss marker; code-review r10), then the
    # usual quote doubling
    enc = _j.dumps(steps, ensure_ascii=False)
    enc = enc.replace("\\", "\\\\").replace("'", "''")
    return f"'{enc}'"


def _lgamma_sql(z: str) -> str:
    """ln Γ(z) for z > 0 as pure SQL arithmetic — Lanczos g=7, n=9
    (the public-domain coefficient set), |rel err| ≲ 1e-13.  Powers
    the SQL incomplete-beta register below; kept UDF-free so the
    expression survives inside lambdas and whole-stage codegen."""
    cs = (676.5203681218851, -1259.1392167224028, 771.32342877765313,
          -176.61502916214059, 12.507343278686905,
          -0.13857109526572012, 9.9843695780195716e-6,
          1.5056327351493116e-7)
    ser = "0.99999999999980993d" + "".join(
        f" + ({c!r}d / (({z}) + {i}))" for i, c in enumerate(cs)
    )
    t = f"(({z}) + 6.5d)"
    return (
        f"(0.9189385332046727d + (({z}) - 0.5d) * ln({t}) - {t} "
        f"+ ln({ser}))"
    )


def _betacore_sql(x: str, a: str, b: str, iters: int = 500) -> str:
    """The convergent-side incomplete-beta core: front · h / a with
    ``h`` from a FIXED-iteration Lentz continued fraction (Numerical
    Recipes betacf), spelled as one aggregate() fold over
    sequence(1, iters).  Converged iterations multiply h by exactly
    1.0, so the fixed count needs no early exit; 500 double
    half-steps cover df up to ~10⁶ on the flipped (fast) side.
    Callers must guarantee 0 < x < 1 and the x ≤ (a+1)/(a+b+2)
    orientation (see _betainc_sql)."""
    lg = _lgamma_sql
    front = (
        f"exp({lg(f'({a}) + ({b})')} - {lg(a)} - {lg(b)} "
        f"+ ({a}) * ln({x}) + ({b}) * ln(1.0d - ({x})))"
    )
    g = lambda e: f"IF(abs({e}) < 1e-300d, 1e-300d, {e})"  # noqa: E731
    step = (
        "element_at(transform(array(named_struct("
        f"'aa1', __m * (({b}) - __m) * ({x}) / "
        f"((({a}) - 1.0d + 2.0d * __m) * (({a}) + 2.0d * __m)), "
        f"'aa2', -((({a}) + __m) * (({a}) + ({b}) + __m)) * ({x}) / "
        f"((({a}) + 2.0d * __m) * (({a}) + 1.0d + 2.0d * __m)))), "
        "__t -> element_at(transform(array(named_struct("
        "'d1', 1.0d / " + g("1.0d + __t.aa1 * __s.d") + ", "
        "'c1', " + g("1.0d + __t.aa1 / __s.c") + ")), "
        "__u -> element_at(transform(array(named_struct("
        "'d2', 1.0d / " + g("1.0d + __t.aa2 * __u.d1") + ", "
        "'c2', " + g("1.0d + __t.aa2 / __u.c1") + ")), "
        "__w -> named_struct('c', __w.c2, 'd', __w.d2, "
        "'h', __s.h * __u.d1 * __u.c1 * __w.d2 * __w.c2)), 1)), 1)), 1)"
    )
    init = (
        "element_at(transform(array(named_struct('d0', 1.0d / "
        + g(f"1.0d - (({a}) + ({b})) * ({x}) / (({a}) + 1.0d)")
        + ")), __z -> named_struct('c', 1.0d, 'd', __z.d0, "
        "'h', __z.d0)), 1)"
    )
    return (
        f"({front} * aggregate(sequence(1, {iters}), {init}, "
        f"(__s, __m) -> {step}, __s -> __s.h) / ({a}))"
    )


def _betainc_sql(x: str, a: str, b: str) -> str:
    """Regularized incomplete beta I_x(a, b) in pure SQL — the same
    algorithm as compat._betainc (which stays as the unit-test
    reference): evaluate the continued fraction on whichever side of
    x = (a+1)/(a+b+2) converges, reflecting via I_x(a,b) =
    1 − I_{1−x}(b,a).  |abs err| ≲ 3e-11 across the tested (a, b)
    grid.  Exists because scalar Python UDFs cannot be extracted
    from an Aggregate whose argument tree contains lambda functions
    (Spark UNSUPPORTED_FEATURE / interpreter gap) — the statistical
    aggregates that need a Beta tail on top of fold-built statistics
    (analysisOfVariance) must stay UDF-free end to end."""
    bind = (
        f"named_struct('f', ({x}) > ((({a}) + 1.0d) / "
        f"(({a}) + ({b}) + 2.0d)), 'x', CAST(({x}) AS DOUBLE), "
        f"'a', CAST(({a}) AS DOUBLE), 'b', CAST(({b}) AS DOUBLE))"
    )
    core = _betacore_sql("__p.x", "__p.a", "__p.b")
    inner = (
        "element_at(transform(array(named_struct("
        "'x', IF(__bi.f, 1.0d - __bi.x, __bi.x), "
        "'a', IF(__bi.f, __bi.b, __bi.a), "
        "'b', IF(__bi.f, __bi.a, __bi.b))), "
        f"__p -> {core}), 1)"
    )
    return (
        f"element_at(transform(array({bind}), __bi -> "
        "CASE WHEN __bi.x IS NULL OR __bi.a IS NULL OR __bi.b IS NULL "
        "THEN CAST(NULL AS DOUBLE) "
        "WHEN __bi.x <= 0.0d THEN 0.0d "
        "WHEN __bi.x >= 1.0d THEN 1.0d "
        f"WHEN __bi.f THEN 1.0d - {inner} ELSE {inner} END), 1)"
    )


# keywords/type names that appear in RENDERED Spark SQL constants —
# the args reaching _render_call are already-transpiled text, so
# CAST(1 AS INT) carries type-name identifiers that must not read as
# column references (code-review r13e; shared by isConstant and
# isNullable so the two registers cannot drift).  Reserved words
# here are constant in EVERY position; type names and interval units
# are in _CTX_CONST_TOKENS instead, constant only in a type context —
# bare, they are legal (and common) column names like `month` or
# `year`, which must keep reading as column references (ADVICE r13)
_CONST_TOKENS = frozenset((
    "NULL", "TRUE", "FALSE", "AND", "OR", "NOT", "IS", "IN",
    "INTERVAL", "CAST", "TRY_CAST", "AS", "TO",
))

# constant only when the surrounding tokens spell a type or typed
# literal: after AS / INTERVAL / '<', before a string literal or '<'
# or '(' (typed literals DATE'…', generics ARRAY<INT>, extraction
# functions year(…) — the inner args carry their own idents)
_CTX_CONST_TOKENS = frozenset((
    "DATE", "TIMESTAMP", "INT", "INTEGER", "BIGINT", "SMALLINT",
    "TINYINT", "FLOAT", "DOUBLE", "DECIMAL", "STRING", "VARCHAR",
    "CHAR", "BOOLEAN", "BINARY", "ARRAY", "MAP", "STRUCT",
    "YEAR", "MONTH", "DAY", "HOUR", "MINUTE", "SECOND",
))


# rendered-Spark call heads that ALWAYS produce an array — drives
# the length() array/string dispatch (r14); conservative: ambiguous
# heads (concat, reverse, element_at) stay out, so they keep the
# string reading
_ARRAY_HEADS = frozenset((
    "array", "transform", "split", "sequence", "slice", "flatten",
    "filter", "sort_array", "array_sort", "array_distinct",
    "array_remove", "array_compact", "array_repeat", "array_union",
    "array_intersect", "array_except", "array_insert", "array_agg",
    "arrays_zip", "zip_with", "map_keys", "map_values",
    "map_entries", "collect_list", "collect_set", "shuffle",
    "regexp_extract_all", "json_object_keys", "array_prepend",
    "array_append",
))


def _array_headed(expr: str) -> bool:
    """True when the rendered expression is WHOLLY a single call to
    a known array-producing function (see ``_ARRAY_HEADS``) —
    trailing operators or subscripts (``split(s, ',')[1]``)
    disqualify, since those re-scalar the value."""
    ts = [t for t in _tokens(expr) if not _is_skippable(t)]
    while (
        len(ts) >= 2 and ts[0] == "("
        and _match_close(ts, 0) == len(ts) - 1
    ):
        ts = ts[1:-1]
    if (
        len(ts) >= 3 and _is_ident(ts[0]) and ts[1] == "("
        and ts[0].lower() in _ARRAY_HEADS
    ):
        return _match_close(ts, 1) == len(ts) - 1
    return False


def _interval_ctx(ts: list[str], i: int) -> bool:
    """True when ``ts[i]`` sits at the UNIT position of an INTERVAL
    literal: scanning back through at most four quantity tokens
    (numbers, string literals, signs, parens) reaches INTERVAL."""
    j, steps = i - 1, 0
    while j >= 0 and steps < 5:
        t = ts[j]
        if _is_ident(t):
            return t.upper() == "INTERVAL"
        if not (
            t in ("-", "+", "(", ")")
            or t[:1].isdigit() or t[:1] in "'\""
        ):
            return False
        j -= 1
        steps += 1
    return False


def _type_span_idents(ts: list[str]) -> set[int]:
    """Indices of identifier tokens inside an AS-rooted TYPE chain
    in rendered expression text — nested generics
    (``ARRAY<MAP<STRING, INT>>``), named struct fields
    (``STRUCT<a: INT>``: both the field name and its type), and
    precision parens (``DECIMAL(10, 2)``).  Anchoring generics to an
    actual AS-rooted chain keeps ``array < month`` reading as a
    COMPARISON between two columns, and the field-name/':' handling
    keeps named-struct casts constant (ADVICE r14: the
    '<'-adjacency rules misfired on both)."""
    marked: set[int] = set()
    n = len(ts)

    def consume(j: int) -> int:
        # one type: IDENT [<generic args>] [(precision args)]
        if j >= n or not _is_ident(ts[j]):
            return j
        marked.add(j)
        j += 1
        if j < n and ts[j] == "<":
            j += 1
            while j < n and ts[j] != ">":
                if _is_ident(ts[j]):
                    if j + 1 < n and ts[j + 1] == ":":
                        # named struct field — the NAME, then its
                        # type after ':'
                        marked.add(j)
                        j = consume(j + 2)
                    else:
                        j = consume(j)
                    continue
                j += 1  # ',' between generic args
            if j < n:
                j += 1  # closing '>'
        if j < n and ts[j] == "(":
            j = _match_close(ts, j) + 1
        return j

    for i, t in enumerate(ts):
        if (
            _is_ident(t) and t.upper() == "AS"
            and i + 1 < n and _is_ident(ts[i + 1])
            and ts[i + 1].upper() in _CTX_CONST_TOKENS
        ):
            consume(i + 1)
    return marked


def _has_column_ident(expr: str) -> bool:
    """True when the rendered expression text contains a token that
    reads as a column/function reference.  Reserved words
    (``_CONST_TOKENS``) never do; type/unit names
    (``_CTX_CONST_TOKENS``) don't ONLY in a type or typed-literal
    context — a bare ``month`` or ``year`` is a column reference
    (ADVICE r13: the flat set made isConstant(month) answer 1)."""
    ts = [
        t for t in _tokens(expr)
        if not t.isspace() and not t.startswith(("--", "/*"))
    ]
    type_idx = _type_span_idents(ts)
    for i, t in enumerate(ts):
        # quoted identifiers are COLUMN references too (code-review
        # r12a: a backtick token fails _IDENT_RE and answered
        # "constant")
        if t.startswith("`"):
            return True
        if not _is_ident(t):
            continue
        # anything inside an AS-rooted type chain — type names,
        # named-struct field names — is type text, not a column
        # (ADVICE r14: replaces the '<'-adjacency rules, which
        # misfired on `array < month` and on STRUCT<a: INT>)
        if i in type_idx:
            continue
        up = t.upper()
        if up in _CONST_TOKENS:
            continue
        if up in _CTX_CONST_TOKENS:
            prev = ts[i - 1].upper() if i else ""
            prev2 = ts[i - 2].upper() if i >= 2 else ""
            nxt = ts[i + 1] if i + 1 < len(ts) else ""
            if (
                prev in ("AS", "INTERVAL")
                # INTERVAL [-](1) DAY: scan back through the
                # quantity tokens (numbers, strings, signs, parens)
                # for the INTERVAL keyword (code-review r14d: the
                # prev2-only rule missed negative/parenthesized
                # quantities)
                or _interval_ctx(ts, i)
                # INTERVAL '1 2' DAY TO HOUR — the trailing unit
                # (code-review r14a: the flat set handled it)
                or (prev == "TO" and prev2 in _CTX_CONST_TOKENS)
                or nxt.startswith("'")  # DATE'…' typed literal
                or nxt == "("           # year(…)
            ):
                continue
            return True
        return True
    return False


_B18_ALIASES = {
    # r13 audit batch 18: CH-documented alias spellings of families
    # the transpiler already owns — normalised before dispatch
    "normL1": "L1Norm", "normL2": "L2Norm",
    "normL2Squared": "L2SquaredNorm", "normLinf": "LinfNorm",
    "normLp": "LpNorm",
    "distanceL1": "L1Distance", "distanceL2": "L2Distance",
    "distanceL2Squared": "L2SquaredDistance",
    "distanceLinf": "LinfDistance", "distanceLp": "LpDistance",
    "vectorSum": "tuplePlus", "vectorDifference": "tupleMinus",
    "caseWithoutExpression": "multiIf",
    # r13 audit batch 19: *UTF8 variants of the token/multi-search
    # families — JVM strings are UTF-8 native and Spark positions
    # are character-based, which is exactly the CH *UTF8 contract
    "hasTokenUTF8": "hasToken",
    "hasTokenCaseInsensitiveUTF8": "hasTokenCaseInsensitive",
    "multiSearchAnyUTF8": "multiSearchAny",
    "multiSearchFirstIndexUTF8": "multiSearchFirstIndex",
    "multiSearchFirstPositionUTF8": "multiSearchFirstPosition",
    "multiSearchAllPositionsUTF8": "multiSearchAllPositions",
    "multiSearchAnyCaseInsensitiveUTF8":
        "multiSearchAnyCaseInsensitive",
    "multiSearchFirstIndexCaseInsensitiveUTF8":
        "multiSearchFirstIndexCaseInsensitive",
    "multiSearchFirstPositionCaseInsensitiveUTF8":
        "multiSearchFirstPositionCaseInsensitive",
    "multiSearchAllPositionsCaseInsensitiveUTF8":
        "multiSearchAllPositionsCaseInsensitive",
    "startsWithCaseInsensitiveUTF8": "startsWithCaseInsensitive",
    "endsWithCaseInsensitiveUTF8": "endsWithCaseInsensitive",
}


# bit-exact SipHash-2-4 family → (Arrow register, keyed?).  The
# 64-bit unkeyed sipHash64 deliberately stays in the role-parity
# xxhash64 set below: it is the hot BUCKETING hash, and a Python
# register there would put an Arrow round-trip on every data-scale
# hot path (MIGRATION.md documents the split contract)
_SIP_KEYED = {
    "sipHash64Keyed": ("ch_siphash64_keyed", True),
    "sipHash128": ("ch_siphash128_keyed", False),
    "sipHash128Keyed": ("ch_siphash128_keyed", True),
    "sipHash128Reference": ("ch_siphash128_ref", False),
    "sipHash128ReferenceKeyed": ("ch_siphash128_ref", True),
}


def _render_call(name: str, args: list[str]) -> str:
    name = _B18_ALIASES.get(name, name)
    joined = ", ".join(args)
    if name == "multiIf":
        return _case_chain(args)
    if (
        name in ("CAST", "cast", "accurateCast", "accurateCastOrNull")
        and len(args) == 2
        and args[1].startswith("'")
        and args[1].endswith("'")
    ):
        # ClickHouse's function-form cast with a string type name:
        # CAST(x, 'UInt64') / accurateCast(OrNull).  accurateCast
        # raises on overflow where plain CAST truncates — Spark's
        # ANSI-off CAST is the truncating tier; OrNull maps to
        # TRY_CAST (NULL on failure, the documented analog).
        from clickhouse_vs_dbt_spark.ddl import convert_type

        t = convert_type(args[1][1:-1])
        fn = "TRY_CAST" if name == "accurateCastOrNull" else "CAST"
        return f"{fn}({args[0]} AS {t})"
    if name == "untuple" and len(args) == 1:
        # Spark's struct-expansion `.*` only resolves on a NAMED
        # reference (column / field path), not on an inline struct
        # expression — refuse the literal form with the rewrite
        # instead of emitting a parse error (r9 audit)
        if not re.match(
            r"\s*[A-Za-z_][A-Za-z0-9_]*(\s*\.\s*"
            r"[A-Za-z_][A-Za-z0-9_]*)*\s*$",
            args[0],
        ):
            raise DialectError(
                "untuple over an inline tuple expression: Spark "
                "expands only named struct references — alias the "
                "tuple in a subquery (SELECT t.* FROM (SELECT "
                "<tuple> AS t))"
            )
        return f"{args[0]}.*"
    # --- URL family round 2 (r6 probe batch) ---
    if name == "cutQueryString" and len(args) == 1:
        return f"regexp_replace({args[0]}, '\\\\?[^#]*', '')"
    if name == "cutFragment" and len(args) == 1:
        return f"regexp_replace({args[0]}, '#.*$', '')"
    if name == "cutQueryStringAndFragment" and len(args) == 1:
        # strip from the first '?' OR '#' — a bare-fragment URL
        # (no query string) also loses its fragment (r6 advice)
        return f"regexp_replace({args[0]}, '[?#].*$', '')"
    if name == "cutWWW" and len(args) == 1:
        return (
            f"regexp_replace({args[0]}, "
            "'^((?:[a-z]+://)?)www\\\\.', '$1')"
        )
    if name == "extractURLParameter" and len(args) == 2:
        # ClickHouse returns '' on a missing parameter, not NULL
        return (
            f"coalesce(parse_url({args[0]}, 'QUERY', {args[1]}), '')"
        )
    if name == "queryStringAndFragment" and len(args) == 1:
        u = args[0]
        return (
            f"concat(coalesce(parse_url({u}, 'QUERY'), ''), "
            f"CASE WHEN parse_url({u}, 'REF') IS NOT NULL "
            f"THEN concat('#', parse_url({u}, 'REF')) ELSE '' END)"
        )
    if name == "netloc" and len(args) == 1:
        return f"parse_url({args[0]}, 'AUTHORITY')"
    if name == "port" and len(args) == 1:
        # ClickHouse returns 0 when no explicit port
        ex = (
            f"regexp_extract({args[0]}, "
            "'^[a-z]+://[^/?#]*:([0-9]+)', 1)"
        )
        return f"CAST(CASE WHEN {ex} = '' THEN '0' ELSE {ex} END AS INT)"
    if name == "firstSignificantSubdomain" and len(args) == 1:
        # ClickHouse's documented heuristic: the label BEFORE the TLD,
        # except when the second-to-last label is com/net/org/co (a
        # public second-level zone) — then the label before that
        parts = f"split(parse_url({args[0]}, 'HOST'), '\\\\.')"
        return (
            f"CASE WHEN try_element_at({parts}, -2) IN "
            "('com', 'net', 'org', 'co') "
            f"THEN coalesce(try_element_at({parts}, -3), "
            f"try_element_at({parts}, -2)) "
            f"ELSE try_element_at({parts}, -2) END"
        )
    # --- misc scalar additions (r6 probe batch) ---
    if name == "monthName" and len(args) == 1:
        return f"date_format({args[0]}, 'MMMM')"
    if (
        name == "dateName"
        and len(args) == 2
        and args[0].startswith("'")
    ):
        unit = args[0][1:-1].lower()
        pats = {
            "year": "yyyy", "month": "MMMM", "day": "d",
            "weekday": "EEEE", "hour": "H", "minute": "m",
            "second": "s",
        }
        if unit not in pats:
            raise DialectError(f"dateName: unsupported unit {unit!r}")
        return f"date_format({args[1]}, '{pats[unit]}')"
    if name == "toStartOfSecond" and len(args) == 1:
        return f"date_trunc('second', {args[0]})"
    if name == "toMillisecond" and len(args) == 1:
        return (
            f"CAST((unix_micros({args[0]}) div 1000) % 1000 AS INT)"
        )
    if name == "toISOYear" and len(args) == 1:
        # week-based 'Y' pattern letters are banned since Spark 3.0
        # (SparkUpgradeException at runtime); extract(YEAROFWEEK)
        # is the supported ISO week-year accessor (r6 advice)
        return f"CAST(extract(YEAROFWEEK FROM {args[0]}) AS INT)"
    if name == "toYearWeek":
        mode = args[1].strip() if len(args) >= 2 else "0"
        if mode == "3":
            # mode 3 == ISO-8601: week-year * 100 + ISO week
            return (
                f"(extract(YEAROFWEEK FROM {args[0]}) * 100 + "
                f"extract(WEEK FROM {args[0]}))"
            )
        if mode == "0":
            # MySQL/ClickHouse mode 0: weeks start Sunday; the week
            # belongs to the year of its starting Sunday, numbered by
            # which Sunday of that year starts it (the first Sunday
            # always falls in days 1..7, so floor((doy-1)/7)+1 counts
            # it exactly).  Matches YEARWEEK(d, 0) incl. the
            # early-January previous-year 52/53 carryover.
            s = f"date_sub({args[0]}, dayofweek({args[0]}) - 1)"
            return (
                f"(year({s}) * 100 + "
                f"CAST(floor((dayofyear({s}) - 1) / 7) AS INT) + 1)"
            )
        raise DialectError(
            f"toYearWeek mode {mode} is not transpiled (0 = "
            "Sunday-start and 3 = ISO are); use toISOYear(d) * 100 "
            "+ toISOWeek(d) for the ISO spelling"
        )
    if name == "bitTest" and len(args) == 2:
        return (
            f"CAST(shiftright({args[0]}, CAST({args[1]} AS INT)) & 1 "
            "AS SMALLINT)"
        )
    if name in ("bitTestAll", "bitTestAny") and len(args) >= 2:
        op = " AND " if name == "bitTestAll" else " OR "
        tests = op.join(
            f"(shiftright({args[0]}, CAST({a} AS INT)) & 1) = 1"
            for a in args[1:]
        )
        return f"CAST({tests} AS SMALLINT)"
    if name in ("bitRotateLeft", "bitRotateRight") and len(args) == 2:
        x, n = args
        a, b = ("shiftleft", "shiftrightunsigned")
        if name == "bitRotateRight":
            a, b = b, a
        return (
            f"({a}(CAST({x} AS BIGINT), CAST({n} AS INT)) | "
            f"{b}(CAST({x} AS BIGINT), 64 - CAST({n} AS INT)))"
        )
    if name == "bitHammingDistance" and len(args) == 2:
        return f"bit_count({args[0]} ^ {args[1]})"
    if name == "byteSwap":
        # the width-declared form is consumed by the
        # _rewrite_byte_swap pre-pass (raw tokens: the rendered CAST
        # erases UInt-vs-Int width exactly as in sumWithOverflow)
        raise DialectError(
            "byteSwap's result depends on the integer's DECLARED "
            "width (UInt32 swaps 4 bytes, UInt64 swaps 8), which "
            "lives in the ClickHouse DDL — declare it inline: "
            "byteSwap(toUInt32(x)) / byteSwap(toUInt64(x))"
        )
    if name in ("gcd", "lcm") and len(args) == 2:
        # Euclid as a bounded Catalyst fold: 92 iterations cover the
        # worst (consecutive-Fibonacci) int64 pair; each step is
        # (a, b) → (b, a mod b) until b = 0.  Pure codegen, no UDF.
        a, b = args
        g = (
            f"aggregate(sequence(1, 92), "
            f"named_struct('a', abs(CAST({a} AS BIGINT)), "
            f"'b', abs(CAST({b} AS BIGINT))), "
            "(__acc, __i) -> IF(__acc.b = 0, __acc, "
            "named_struct('a', __acc.b, 'b', __acc.a % __acc.b)), "
            "__acc -> __acc.a)"
        )
        if name == "gcd":
            return g
        # lcm(a, b) = |a / gcd * b|; divide first to avoid overflow
        return (
            f"abs(abs(CAST({a} AS BIGINT)) div {g} "
            f"* abs(CAST({b} AS BIGINT)))"
        )
    if name == "isZeroOrNull" and len(args) == 1:
        return f"CAST({args[0]} IS NULL OR {args[0]} = 0 AS SMALLINT)"
    if name == "arrayElement" and len(args) == 2:
        # the functional spelling of arr[n]: same 1-based/negative
        # contract, same documented NULL-vs-type-default OOB seam
        return f"try_element_at({args[0]}, {args[1]})"
    if name in ("randCanonical", "canonicalRand") and not args:
        return "rand()"
    if name == "UTCTimestamp" and not args:
        # session timezone is pinned UTC (session.py), so now() and
        # UTCTimestamp() coincide by construction
        return "current_timestamp()"
    if name == "now64" and len(args) <= 2:
        # DateTime64(p) — Spark timestamps are micros, covering every
        # p ≤ 6; finer grids have no representation
        if args and args[0].strip().isdigit() and int(args[0]) > 6:
            raise DialectError(
                "now64 precision > 6: Spark timestamps are "
                "microsecond-resolution"
            )
        return "current_timestamp()"
    if name == "addInterval" and len(args) == 2:
        # interval + interval — Spark adds same-class intervals
        # natively and errors LOUDLY on mixed year-month/day-time
        # (CH builds a tuple there; no silent divergence either way)
        return f"({args[0]} + {args[1]})"
    if name == "subtractInterval" and len(args) == 2:
        # the subtraction twin (r15 batch 30: addInterval mapped,
        # subtractInterval leaked)
        return f"({args[0]} - {args[1]})"
    if name == "intExp2" and len(args) == 1:
        return f"shiftleft(CAST(1 AS BIGINT), CAST({args[0]} AS INT))"
    if name == "intExp10" and len(args) == 1:
        return f"CAST(power(10, {args[0]}) AS BIGINT)"
    if name == "splitByRegexp" and len(args) == 2:
        return f"split({args[1]}, {args[0]})"
    if name == "splitByWhitespace" and len(args) == 1:
        return f"array_remove(split(trim({args[0]}), '\\\\s+'), '')"
    if name == "ngrams" and len(args) == 2:
        # character n-grams; the slice-greatest spine avoids Spark's
        # descending sequence(1, 0) on short strings
        s, n = args
        cnt = f"length({s}) - ({n}) + 1"
        return (
            f"transform(slice(sequence(1, greatest({cnt}, 1)), 1, "
            f"greatest({cnt}, 0)), __i -> substring({s}, __i, {n}))"
        )
    if name == "arrayRotateLeft" and len(args) == 2:
        a, n = args
        k = f"((({n}) % size({a})) + size({a})) % size({a})"
        return (
            f"CASE WHEN size({a}) = 0 THEN {a} ELSE "
            f"concat(slice({a}, {k} + 1, size({a}) - ({k})), "
            f"slice({a}, 1, {k})) END"
        )
    if name == "arrayJaccardIndex" and len(args) == 2:
        a, b = args
        return (
            f"CAST(size(array_intersect({a}, {b})) AS DOUBLE) / "
            f"size(array_union({a}, {b}))"
        )
    if name == "formatReadableSize" and len(args) == 1:
        x = args[0]
        units = "array('B', 'KiB', 'MiB', 'GiB', 'TiB', 'PiB', 'EiB')"
        p = (
            f"CAST(least(greatest(floor(log(1024, "
            f"greatest(abs(CAST({x} AS DOUBLE)), 1.0))), 0), 6) AS INT)"
        )
        # format_string, not format_number: ClickHouse prints no
        # thousands separators ('1023.00 KiB', never '1,023.00 KiB')
        return (
            f"concat(format_string('%.2f', CAST({x} AS DOUBLE) / "
            f"power(1024, {p})), ' ', element_at({units}, {p} + 1))"
        )
    if name == "formatReadableQuantity" and len(args) == 1:
        x = args[0]
        units = "array('', ' thousand', ' million', ' billion', ' trillion')"
        p = (
            f"CAST(least(greatest(floor(log(1000, "
            f"greatest(abs(CAST({x} AS DOUBLE)), 1.0))), 0), 4) AS INT)"
        )
        # no grouping separators, matching ClickHouse (r6 advice)
        return (
            f"concat(format_string('%.2f', CAST({x} AS DOUBLE) / "
            f"power(1000, {p})), element_at({units}, {p} + 1))"
        )
    # --- r7 probe batch: migrant-surface scalar family ---
    if name == "rand" and not args:
        # ClickHouse rand() is uniform UInt32, leaned on for `rand() %
        # k` bucketing — Spark's rand() is [0,1) DOUBLE, so the modulo
        # idiom silently breaks without the integer mapping
        return "CAST(floor(rand() * 4294967296) AS BIGINT)"
    if name in ("MD5", "SHA1", "SHA224", "SHA256") and len(args) == 1:
        # ClickHouse returns BINARY digests (FixedString(N)) — the
        # hex(MD5(s)) idiom needs binary here or it double-hexes
        if name == "MD5":
            return f"unhex(md5({args[0]}))"
        if name == "SHA1":
            return f"unhex(sha1({args[0]}))"
        bits = name[3:]
        return f"unhex(sha2({args[0]}, {bits}))"
    if name in _SIP_KEYED:
        # BIT-EXACT SipHash-2-4 family (64-bit r14; 128-bit family
        # r15, VERDICT r14 item 2).  Keyed forms take ((k0, k1),
        # data); unkeyed 128-bit forms use the zero key (ClickHouse
        # src/Common/SipHash.h).  STRING data carries the bit-exact
        # contract (CH hashes a numeric argument's little-endian
        # BYTES — a numeric here hashes its decimal text;
        # MIGRATION.md).  The KEYS travel as strings too: a nullable
        # BIGINT batch widens to float64 in pandas and int() then
        # rounds >53-bit keys — decimal text parses exactly over the
        # full UInt64 range (ADVICE r14, medium).  128-bit results
        # are BINARY(16) — ClickHouse's FixedString(16) byte layout,
        # so hex() composes identically (MIGRATION.md type seam).
        register, keyed = _SIP_KEYED[name]
        if keyed:
            if len(args) != 2:
                if len(args) > 2:
                    raise DialectError(
                        f"{name}: multi-argument data chains "
                        "per-field hashes in ClickHouse — concat "
                        "the fields explicitly to pin the byte "
                        "layout"
                    )
                # 0/1-arg forms must REFUSE, not leak the CH name
                # into a Spark unresolved-function error (r14a)
                raise DialectError(
                    f"{name} takes ((k0, k1), data) — exactly two "
                    "arguments"
                )
            kt = args[0].strip()
            if kt.startswith("struct(") and kt.endswith(")"):
                kt = kt[len("struct("):-1]
            elif kt.startswith("(") and kt.endswith(")"):
                kt = kt[1:-1]
            parts = [
                p.strip() for p in _split_top_commas(kt) if p.strip()
            ] if kt else []
            if len(parts) != 2:
                raise DialectError(
                    f"{name}: the first argument must be the "
                    "(k0, k1) key tuple"
                )
            k0, k1, data = parts[0], parts[1], args[1]
        else:
            if len(args) != 1:
                raise DialectError(
                    f"{name}: multi-argument data chains per-field "
                    "hashes in ClickHouse — concat the fields "
                    "explicitly to pin the byte layout"
                    if len(args) > 1 else
                    f"{name} takes exactly one argument"
                )
            k0, k1, data = "0", "0", args[0]
        return (
            f"{register}(CAST({k0} AS STRING), "
            f"CAST({k1} AS STRING), CAST({data} AS STRING))"
        )
    if name == "URLHash" and len(args) == 1:
        # CH: hash of the URL with one trailing /, # or ? stripped;
        # same role-parity contract as the 64-bit family below
        # (audit batch 17; '?' added code-review r13a)
        return (
            f"xxhash64(regexp_replace({args[0]}, '[/#?]$', ''))"
        )
    if name == "URLHash" and len(args) == 2:
        raise DialectError(
            "URLHash(url, N) hashes the N-level URLHierarchy prefix "
            "— spell it: URLHash(element_at(URLHierarchy(url), N))"
        )
    if name in (
        "cityHash64", "sipHash64", "farmHash64", "metroHash64",
        "farmFingerprint64", "halfMD5", "xxHash64", "wyHash64",
        "intHash64", "murmurHash2_64", "murmurHash3_64",
        "gccMurmurHash", "kafkaMurmurHash", "xxh3",
    ) and args:
        # role parity, not bit parity: stable 64-bit bucketing hash
        # within THIS engine (xxhash64/seed-42).  Values differ from
        # ClickHouse's — re-derive persisted hashes on migration
        # (MIGRATION.md).
        return f"xxhash64({joined})"
    if name == "murmurHash3_128" and args:
        # 128-bit fingerprint role → the md5 digest (binary, same
        # width); same role-parity caveat as the 64-bit family.
        # (sipHash128 left this set in r15 — it is bit-exact now.)
        inner = (
            args[0] if len(args) == 1
            else f"concat_ws(char(1), {joined})"
        )
        return f"unhex(md5({inner}))"
    if name in ("javaHash", "javaHashUTF16LE", "hiveHash") and args:
        # INTEROP hashes: their whole purpose is bit-compat with an
        # external system (Java String.hashCode / Hive bucketing), so
        # the role-parity xxhash64 mapping would silently break the
        # external contract — refuse instead
        raise DialectError(
            f"{name} exists for bit-compatibility with an external "
            "system; a role-parity rewrite would break that contract "
            "— compute it in the external system's runtime, or use "
            "xxHash64/cityHash64 for engine-internal bucketing"
        )
    if name in (
        "xxHash32", "intHash32", "murmurHash2_32", "murmurHash3_32",
    ) and args:
        # 32-bit tier of the role-parity hash family
        return f"(xxhash64({joined}) & 4294967295)"
    if name == "arrayZip" and len(args) >= 2:
        return f"arrays_zip({joined})"
    if name == "hasAll" and len(args) == 2:
        return f"(size(array_except({args[1]}, {args[0]})) = 0)"
    if name == "hasAny" and len(args) == 2:
        return f"arrays_overlap({args[0]}, {args[1]})"
    if name == "arrayIntersect" and len(args) >= 2:
        out = args[0]
        for a in args[1:]:
            out = f"array_intersect({out}, {a})"
        return out
    if name == "arrayPushBack" and len(args) == 2:
        return f"array_append({args[0]}, {args[1]})"
    if name == "arrayPushFront" and len(args) == 2:
        return f"array_prepend({args[0]}, {args[1]})"
    if name == "arrayPopBack" and len(args) == 1:
        a = args[0]
        return f"slice({a}, 1, greatest(size({a}) - 1, 0))"
    if name == "arrayPopFront" and len(args) == 1:
        a = args[0]
        return f"slice({a}, 2, greatest(size({a}) - 1, 0))"
    if name == "arrayResize" and len(args) in (2, 3):
        a, n = args[0], args[1]
        # pad value: the explicit 3rd arg, else a NULL of the element
        # type (try_element_at past the end) — ClickHouse pads the
        # type default; documented divergence
        fill = (
            args[2]
            if len(args) == 3
            else f"try_element_at({a}, size({a}) + 1)"
        )
        return (
            f"IF({n} <= size({a}), slice({a}, 1, {n}), "
            f"concat({a}, array_repeat({fill}, "
            f"CAST({n} AS INT) - size({a}))))"
        )
    if name == "arrayReverseSort" and len(args) == 1:
        return f"reverse(array_sort({args[0]}))"
    if name == "arrayCumSumNonNegative" and len(args) == 1:
        # same linear fold as arrayCumSum, clamped at zero each step
        a = args[0]
        return (
            f"aggregate({a}, CAST(array() AS ARRAY<DOUBLE>), "
            f"(__acc, __x) -> array_append(__acc, greatest("
            f"coalesce(try_element_at(__acc, -1), CAST(0 AS DOUBLE)) "
            f"+ CAST(__x AS DOUBLE), CAST(0 AS DOUBLE))))"
        )
    if name == "arrayWithConstant" and len(args) == 2:
        return f"array_repeat({args[1]}, CAST({args[0]} AS INT))"
    if name == "arrayFold" and len(args) == 3:
        # ClickHouse arrayFold(lambda, arr, init) == Spark
        # aggregate(arr, init, lambda) — same (acc, x) lambda shape
        return f"aggregate({args[1]}, {args[2]}, {args[0]})"
    if name == "arrayFirstIndex" and len(args) == 2:
        lam, a = args
        return (
            f"coalesce(array_position(transform({a}, {lam}), true), 0)"
        )
    if name == "arrayLast" and len(args) == 2:
        # NULL when nothing matches (ClickHouse: type default) — the
        # arrayFirst divergence policy
        lam, a = args
        return f"try_element_at(filter({a}, {lam}), -1)"
    if name == "arrayLastIndex" and len(args) == 2:
        # array_position returns 0 (not NULL) on no match; bind the
        # reversed-scan position ONCE via the single-element
        # transform trick (the bar() mapping's pattern)
        lam, a = args
        pos = f"array_position(reverse(transform({a}, {lam})), true)"
        return (
            f"element_at(transform(array({pos}), __lp -> "
            f"IF(coalesce(__lp, 0) = 0, CAST(0 AS BIGINT), "
            f"size({a}) - __lp + 1)), 1)"
        )
    if name in ("trunc", "truncate") and len(args) in (1, 2) and not (
        len(args) == 2 and args[1].strip().startswith("'")
    ):
        # numeric truncation toward zero — Spark's trunc() is a DATE
        # function, so the bare passthrough would silently change
        # semantics (trunc(d, 'MM') date form passes through)
        x = args[0]
        if len(args) == 1:
            return (
                f"CAST(IF({x} >= 0, floor({x}), ceil({x})) AS DOUBLE)"
            )
        p = f"power(10, {args[1]})"
        return (
            f"(CAST(IF({x} >= 0, floor({x} * {p}), "
            f"ceil({x} * {p})) AS DOUBLE) / {p})"
        )
    if name == "toMonday" and len(args) == 1:
        d = args[0]
        return f"CAST(date_sub({d}, (dayofweek({d}) + 5) % 7) AS DATE)"
    if name == "toStartOfWeek" and len(args) in (1, 2):
        d = args[0]
        mode = args[1].strip() if len(args) == 2 else "0"
        if mode == "0":  # Sunday start (ClickHouse default)
            return f"CAST(date_sub({d}, dayofweek({d}) - 1) AS DATE)"
        if mode in ("1", "3"):  # Monday start
            return (
                f"CAST(date_sub({d}, (dayofweek({d}) + 5) % 7) AS DATE)"
            )
        raise DialectError(
            f"toStartOfWeek mode {mode} is not transpiled (0/1/3 are)"
        )
    if name in (
        "toStartOfFifteenMinutes", "toStartOfTenMinutes",
        "toStartOfFiveMinutes", "timeSlot",
    ) and len(args) == 1:
        secs = {
            "toStartOfFifteenMinutes": 900,
            "toStartOfTenMinutes": 600,
            "toStartOfFiveMinutes": 300,
            "timeSlot": 1800,
        }[name]
        return (
            f"timestamp_seconds(unix_timestamp({args[0]}) "
            f"div {secs} * {secs})"
        )
    if name == "toRelativeDayNum" and len(args) == 1:
        return f"datediff({args[0]}, DATE'1970-01-01')"
    if name == "toRelativeHourNum" and len(args) == 1:
        return f"(unix_timestamp({args[0]}) div 3600)"
    if name == "toRelativeMinuteNum" and len(args) == 1:
        return f"(unix_timestamp({args[0]}) div 60)"
    if name in (
        "dateAdd", "dateSub", "timestampAdd", "timestampSub",
    ) and len(args) == 3:
        unit = args[0].strip().strip("'\"").upper()
        if unit in (
            "YEAR", "QUARTER", "MONTH", "WEEK", "DAY",
            "HOUR", "MINUTE", "SECOND",
        ):
            n = args[1] if name.endswith("Add") else f"-({args[1]})"
            return f"timestampadd({unit}, {n}, {args[2]})"
    if name == "dateDiff" and len(args) in (3, 4):
        unit = args[0].strip().strip("'\"").upper()
        if unit in (
            "YEAR", "QUARTER", "MONTH", "WEEK", "DAY",
            "HOUR", "MINUTE", "SECOND",
        ):
            return f"timestampdiff({unit}, {args[1]}, {args[2]})"
    if name == "makeDate" and len(args) == 3:
        return f"make_date({joined})"
    if name == "makeDateTime" and len(args) == 6:
        return f"make_timestamp({joined})"
    if name == "parseDateTimeBestEffort" and len(args) == 1:
        return f"CAST({args[0]} AS TIMESTAMP)"
    if name == "parseDateTimeBestEffortOrNull" and len(args) == 1:
        return f"TRY_CAST({args[0]} AS TIMESTAMP)"
    if name in (
        "parseDateTimeBestEffortOrZero",
        "parseDateTime32BestEffortOrZero",
    ) and len(args) == 1:
        # CH's Or-Zero contract: the type's default (epoch) on failure
        return (
            f"coalesce(TRY_CAST({args[0]} AS TIMESTAMP), "
            "TIMESTAMP'1970-01-01 00:00:00')"
        )
    if name in (
        "parseDateTime64", "parseDateTime64OrNull",
        "parseDateTime64OrZero",
    ) and len(args) >= 2:
        # the FORMAT twin of parseDateTime (CH 24.x:
        # parseDateTime64(str, format[, tz]) — code-review r13g: the
        # first cut modeled a (str, scale) spelling that is actually
        # parseDateTime64BestEffort's signature)
        if re.fullmatch(r"\d+", args[1].strip()):
            raise DialectError(
                f"{name} takes a FORMAT string as its second "
                "argument; the (value, scale[, tz]) spelling is "
                "parseDateTime64BestEffort"
            )
        a = list(args)
        if len(a) == 3:
            tz = a[2].strip().strip("'\"")
            if tz not in ("UTC", "Etc/UTC", "Universal"):
                raise DialectError(
                    f"{name}: only the 'UTC' timezone form maps "
                    "(session time zone is pinned UTC)"
                )
            a = a[:2]
        return _render_call(
            "parseDateTime" + name[len("parseDateTime64"):], a,
        )
    if name in (
        "parseDateTime64BestEffort",
        "parseDateTime64BestEffortOrNull",
        "parseDateTime64BestEffortOrZero",
    ) and len(args) in (2, 3):
        # (str, scale[, tz]): CH TRUNCATES to the declared scale —
        # sub-6 scales matter (code-review r13g); literal scale only
        tz = args[2].strip().strip("'\"") if len(args) == 3 else "UTC"
        if tz not in ("UTC", "Etc/UTC", "Universal"):
            raise DialectError(
                f"{name}: only the 'UTC' timezone form maps "
                "(session time zone is pinned UTC)"
            )
        if not re.fullmatch(r"\d+", args[1].strip()):
            raise DialectError(
                f"{name}: the scale must be a literal integer"
            )
        scale = int(args[1])
        fn = "TRY_CAST" if not name.endswith("BestEffort") else "CAST"
        base = f"{fn}({args[0]} AS TIMESTAMP)"
        if scale < 6:
            f = 10 ** (6 - scale)
            base = (
                f"timestamp_micros(CAST(floor(unix_micros({base}) "
                f"/ {f}.0) AS BIGINT) * {f})"
            )
        if name.endswith("OrZero"):
            return (
                f"coalesce({base}, TIMESTAMP'1970-01-01 00:00:00')"
            )
        return base
    if name in (
        "parseDateTime32BestEffort", "parseDateTime64BestEffort",
    ) and len(args) == 1:
        return f"CAST({args[0]} AS TIMESTAMP)"
    if name in (
        "parseDateTime32BestEffortOrNull",
        "parseDateTime64BestEffortOrNull",
    ) and len(args) == 1:
        return f"TRY_CAST({args[0]} AS TIMESTAMP)"
    if name in (
        "parseDateTimeInJodaSyntax",
        "parseDateTimeInJodaSyntaxOrNull",
        "parseDateTimeInJodaSyntaxOrZero",
    ) and len(args) == 2:
        # most Joda letters (yyyy/MM/dd/HH/mm/ss…) coincide with
        # Spark's java.time letters, but NOT all: Joda Y is
        # year-of-era (java.time Y = week-based-year — silently
        # shifted dates near year boundaries), Joda x is weekyear
        # (java.time x = zone offset), Joda e is day-of-week-number
        # (code-review r13a).  Literal patterns translate Y→y and
        # refuse x/e; non-literal patterns refuse.
        fmt_txt = args[1].strip()
        if not (fmt_txt.startswith("'") and fmt_txt.endswith("'")):
            raise DialectError(
                f"{name}: the pattern must be a literal so the "
                "Joda→java.time letter audit can run at transpile "
                "time"
            )
        # decode the SQL literal ('' → ') to the RUNTIME pattern,
        # walk it with Joda quote semantics ('…' literal text,
        # '' = literal quote) so quoted text neither trips the x/e
        # refusal nor has its Y rewritten (code-review r13b), then
        # re-encode for the emitted SQL
        rt = fmt_txt[1:-1].replace("''", "'")
        out_chars: list[str] = []
        in_q = False
        ci = 0
        while ci < len(rt):
            ch_ = rt[ci]
            if ch_ == "'":
                if in_q and ci + 1 < len(rt) and rt[ci + 1] == "'":
                    out_chars.append("''")  # Joda literal quote
                    ci += 2
                    continue
                if (
                    not in_q and ci + 1 < len(rt)
                    and rt[ci + 1] == "'"
                ):
                    # standalone '' OUTSIDE a quoted run: Joda
                    # parses it as an EMPTY literal (a no-op);
                    # java.time would demand a literal quote in the
                    # input — drop it (code-review r13c)
                    ci += 2
                    continue
                out_chars.append("'")
                in_q = not in_q
            elif in_q:
                out_chars.append(ch_)
            elif ch_ in ("x", "e"):
                raise DialectError(
                    f"{name}: Joda 'x' (weekyear) / 'e' "
                    "(day-of-week number) have no same-letter "
                    "java.time twin — spell the field with "
                    "java.time letters via parseDateTime"
                )
            elif ch_ == "Y":
                out_chars.append("y")  # year-of-era ≈ y for CE dates
            else:
                out_chars.append(ch_)
            ci += 1
        body = "".join(out_chars).replace("'", "''")
        fn = (
            "to_timestamp" if name == "parseDateTimeInJodaSyntax"
            else "try_to_timestamp"
        )
        out = f"{fn}({args[0]}, '{body}')"
        if name.endswith("OrZero"):
            return (
                f"coalesce({out}, TIMESTAMP'1970-01-01 00:00:00')"
            )
        return out
    if name == "parseDateTimeOrZero" and len(args) == 2 \
            and args[1].strip().startswith("'"):
        raw_fmt = args[1].strip()[1:-1]
        _ban_dayname_parse(name, raw_fmt)
        fmt = _strftime_to_jdk(raw_fmt)
        return (
            f"coalesce(try_to_timestamp({args[0]}, '{fmt}'), "
            "TIMESTAMP'1970-01-01 00:00:00')"
        )
    if name == "timeZoneOffset" and len(args) == 1:
        # session timezone is pinned UTC (the timezoneOf precedent)
        return f"IF(({args[0]}) IS NULL, NULL, 0)"
    if name in (
        "dateTimeToSnowflakeID", "dateTime64ToSnowflakeID",
    ) and len(args) in (1, 2):
        # snowflake ID = (ms since the given epoch) << 22; CH's
        # default epoch is 0 (1970-01-01), matching the read-side
        # snowflakeIDToDateTime register — pass Twitter's
        # 1288834974657 explicitly for twitter-era IDs
        ep = args[1] if len(args) == 2 else "0"
        return (
            f"shiftleft(unix_millis(CAST({args[0]} AS TIMESTAMP)) "
            f"- ({ep}), 22)"
        )
    if name == "ULIDStringToDateTime" and len(args) == 1:
        # the first 10 ULID chars are Crockford-base32 of the ms
        # timestamp; invalid alphabet chars contribute -1 per digit
        # instead of CH's throw (documented refinement — the
        # MACStringToNum arithmetic-parse precedent)
        return (
            f"timestamp_millis(aggregate(sequence(1, 10), "
            f"CAST(0 AS BIGINT), (__ua, __ui) -> __ua * 32 + "
            f"locate(substring(upper({args[0]}), __ui, 1), "
            f"'0123456789ABCDEFGHJKMNPQRSTVWXYZ') - 1))"
        )
    if name in ("parseDateTime", "parseDateTimeOrNull") and len(
        args
    ) == 2 and args[1].strip().startswith("'"):
        raw_fmt = args[1].strip()[1:-1]
        _ban_dayname_parse(name, raw_fmt)
        fmt = _strftime_to_jdk(raw_fmt)
        fn = (
            "to_timestamp"
            if name == "parseDateTime"
            else "try_to_timestamp"
        )
        return f"{fn}({args[0]}, '{fmt}')"
    if name == "fromUnixTimestamp" and len(args) == 1:
        # ClickHouse returns DateTime — Spark's from_unixtime returns
        # a STRING, so the passthrough-adjacent name must remap
        return f"timestamp_seconds({args[0]})"
    if name == "generateUUIDv4" and not args:
        return "uuid()"
    if name in ("generateUUIDv4", "generateUUIDv7") and len(args) == 1:
        # DETERMINISTIC tier (VERDICT r9 missing-item 3, the seeded
        # groupArraySample precedent): CH uses the expression argument
        # only to defeat common-subexpression elimination — the result
        # is still random; here the md5 of the argument supplies every
        # non-version bit, so the id is a pure function of the
        # argument (a documented determinism upgrade serving test
        # reproducibility; version/variant nibbles keep the RFC 4122
        # v4/v7 shape, but the v7 timestamp field is hash bits, not
        # wall clock — use the zero-arg form for time-ordered ids).
        # The divergence is surfaced at TRANSPILE time (ADVICE r10):
        # duplicate argument values yield duplicate ids here, while CH
        # still gives every row fresh random bits.
        import warnings

        warnings.warn(
            f"{name}(expr) maps to a DETERMINISTIC md5 tier: equal "
            "argument values produce EQUAL ids (ClickHouse uses the "
            "argument only to defeat CSE and every row stays random)."
            f" Use {name}() when per-row uniqueness is required — see"
            " MIGRATION.md",
            DialectWarning,
            stacklevel=2,
        )
        ver = name[-1]
        h = f"md5(CAST({args[0]} AS STRING))"
        var = (
            "element_at(array('8', '9', 'a', 'b'), "
            f"(instr('0123456789abcdef', substr({h}, 17, 1)) - 1) "
            "% 4 + 1)"
        )
        return (
            f"concat(substr({h}, 1, 8), '-', substr({h}, 9, 4), "
            f"'-{ver}', substr({h}, 14, 3), '-', {var}, "
            f"substr({h}, 18, 3), '-', substr({h}, 21, 12))"
        )
    if name == "generateUUIDv7" and not args:
        # faithful time-ordered v7: 48-bit wall-clock milliseconds,
        # version nibble 7, RFC variant, random tail from uuid()
        # entropy (each md5() call draws a fresh uuid — independent
        # random hex, exactly what the rand_b section wants).
        # current_timestamp() is per-QUERY constant in Spark, so rows
        # of one query share the ms field — CH varies within the
        # query; ordering across queries/batches still holds
        t = "lpad(lower(hex(unix_millis(current_timestamp()))), 12, '0')"
        r = "md5(CAST(uuid() AS STRING))"
        var = (
            "element_at(array('8', '9', 'a', 'b'), "
            f"(instr('0123456789abcdef', substr({r}, 17, 1)) - 1) "
            "% 4 + 1)"
        )
        return (
            f"concat(substr({t}, 1, 8), '-', substr({t}, 9, 4), "
            f"'-7', substr({r}, 1, 3), '-', {var}, "
            f"substr({r}, 5, 3), '-', substr({r}, 8, 12))"
        )
    if name == "generateSnowflakeID" and not args:
        # CH layout: 41-bit ms since the UNIX epoch | 10-bit machine |
        # 12-bit counter — ms<<22 plus 22 random low bits (machine id
        # and counter have no Spark analog; random keeps uniqueness
        # probabilistic like CH's machine-id fallback).  Pairs with
        # snowflakeIDToDateTime below for the roundtrip
        return (
            "(unix_millis(current_timestamp()) * 4194304 + "
            "CAST(rand() * 4194304 AS BIGINT))"
        )
    if name == "generateSnowflakeID" and len(args) == 1:
        # deterministic tier: 60 bits folded from the argument's md5
        # (top bits zero like the real sign/reserved bits); trades
        # time-ordering for reproducibility, like the UUID tier above
        # (same ADVICE-r10 transpile-time warning: equal args → equal
        # ids, unlike CH's always-fresh bits)
        import warnings

        warnings.warn(
            "generateSnowflakeID(expr) maps to a DETERMINISTIC md5 "
            "tier: equal argument values produce EQUAL ids "
            "(ClickHouse uses the argument only to defeat CSE and "
            "every row stays random). Use generateSnowflakeID() when "
            "per-row uniqueness is required — see MIGRATION.md",
            DialectWarning,
            stacklevel=2,
        )
        h = f"md5(CAST({args[0]} AS STRING))"
        return (
            f"aggregate(transform(sequence(1, 15), __i -> "
            f"(instr('0123456789abcdef', substr({h}, __i, 1)) - 1) * "
            "shiftleft(CAST(1 AS BIGINT), (15 - __i) * 4)), "
            "CAST(0 AS BIGINT), (__a, __x) -> __a + __x)"
        )
    if name in (
        "snowflakeIDToDateTime", "snowflakeIDToDateTime64"
    ) and len(args) == 1:
        # the generateSnowflakeID inverse: ms live in bits 22+ with
        # the UNIX epoch (unlike the deprecated snowflakeToDateTime
        # pair, which uses the Twitter epoch — both map)
        return f"timestamp_millis({args[0]} div 4194304)"
    if name.startswith("emptyArray") and not args:
        t = {
            "String": "STRING", "Int8": "TINYINT", "Int16": "SMALLINT",
            "Int32": "INT", "Int64": "BIGINT", "UInt8": "SMALLINT",
            "UInt16": "INT", "UInt32": "BIGINT", "UInt64": "BIGINT",
            "Float32": "FLOAT", "Float64": "DOUBLE", "Date": "DATE",
            "DateTime": "TIMESTAMP",
        }.get(name[len("emptyArray"):])
        if t:
            return f"CAST(array() AS ARRAY<{t}>)"
    if name == "range" and len(args) in (1, 2, 3):
        if len(args) == 1:
            n = args[0]
            # [0, n): sequence is inclusive, slice trims; n=0 → []
            return (
                f"slice(sequence(0, greatest(CAST({n} AS BIGINT), 1) "
                f"- 1), 1, CAST({n} AS INT))"
            )
        a, b = args[0], args[1]
        step = args[2] if len(args) == 3 else "1"
        # half-open [a, b) in either direction; empty (not an error)
        # when the bounds are inconsistent with the step — Spark's
        # sequence() throws on reversed bounds, ClickHouse returns []
        empty = f"slice(sequence({a}, {a}), 1, 0)"
        return (
            f"CASE WHEN ({step}) > 0 AND ({a}) < ({b}) THEN "
            f"filter(sequence({a}, {b}, {step}), __r -> __r < ({b})) "
            f"WHEN ({step}) < 0 AND ({a}) > ({b}) THEN "
            f"filter(sequence({a}, {b}, {step}), __r -> __r > ({b})) "
            f"ELSE {empty} END"
        )
    if name == "tuple" and args:
        return f"struct({joined})"
    if name == "isValidJSON" and len(args) == 1:
        return f"(try_parse_json({args[0]}) IS NOT NULL)"
    if name == "JSONLength" and len(args) == 1:
        j = args[0]
        return (
            f"coalesce(json_array_length({j}), "
            f"size(json_object_keys({j})))"
        )
    if name == "toJSONString" and len(args) == 1:
        # uniform for every type (batch 22): serialize a 1-element
        # wrapper array and strip its brackets — scalars JSON-quote
        # like CH, containers serialize as themselves (to_json alone
        # rejects non-container types).  substring, not a regex: '.'
        # misses unescaped U+2028/U+2029 line terminators and
        # regexp_extract would silently answer '' (code-review
        # r13h); the transform let-binding evaluates to_json once.
        # DateTime args serialize in Spark's ISO JSON shape
        # (2024-03-15T10:30:45.000Z), not CH's — MIGRATION.md.
        return (
            f"element_at(transform(array(to_json(array({args[0]}))), "
            f"__j -> substring(__j, 2, length(__j) - 2)), 1)"
        )
    if name == "multiMatchAny" and len(args) == 2:
        return f"exists({args[1]}, __mm -> {args[0]} RLIKE __mm)"
    if name == "multiSearchFirstPosition" and len(args) == 2:
        h, ns = args
        return (
            f"coalesce(array_min(filter(transform({ns}, "
            f"__n -> instr({h}, __n)), __p -> __p > 0)), 0)"
        )
    if name == "extract" and len(args) == 2:
        # extract(haystack, re): first match — group 1 when the
        # pattern captures, else the whole match (ClickHouse rule);
        # '' on no match both engines
        h, p = args
        # a CAPTURE group is '(' neither escaped nor opening '(?...'
        grp = "1" if (
            p.strip().startswith("'")
            and re.search(r"(?<!\\)\((?!\?)", p)
        ) else "0"
        return f"regexp_extract({h}, {p}, {grp})"
    if name == "notLike" and len(args) == 2:
        return f"(NOT ({args[0]} LIKE {args[1]}))"
    if name == "notILike" and len(args) == 2:
        # the functional NOT ILIKE (r14 batch 27)
        return f"(NOT ({args[0]} ILIKE {args[1]}))"
    if name == "ilike" and len(args) == 2:
        return f"({args[0]} ILIKE {args[1]})"
    if name == "countMatches" and len(args) == 2:
        return f"regexp_count({args[0]}, {args[1]})"
    if name == "levenshteinDistance" and len(args) == 2:
        return f"levenshtein({args[0]}, {args[1]})"
    # ---- r12 audit batch 15 ----------------------------------------
    if name == "ignore":
        # CH: evaluates its arguments and always returns 0 (a
        # constant-folding / benchmarking helper); Spark has no
        # forced-evaluation analog and none is needed.  The zero-arg
        # form ignore() is valid CH too (ADVICE r12)
        return "0"
    if name == "indexHint" and args:
        # CH: returns 1; the argument only steers granule selection.
        # Spark's scan pruning comes from real predicates, so the
        # hint's VALUE is the whole mapping
        return "1"
    if name == "isConstant" and len(args) == 1:
        # transpile-time foldability approximation: an expression
        # with no column/function identifiers is a constant.  CH
        # answers from the query pipeline (pi() etc. count as
        # constant there); this register covers the literal tier and
        # answers 0 for anything name-shaped — documented refinement
        return "0" if _has_column_ident(args[0]) else "1"
    _tz_arity = {
        # trailing-timezone forms (batch 21): function → the arity
        # at which the LAST argument is the zone.  formatDateTime's
        # 2-arg spelling is (ts, format) — a format string equal to
        # the literal text 'UTC' is valid CH output, so only the
        # 3-arg form carries a zone (code-review r13g)
        "toString": (2,), "toUnixTimestamp": (2,),
        "toDateTime": (2,), "toDate": (2,),
        "formatDateTime": (3,), "formatDateTimeInJodaSyntax": (3,),
        "toDateTime64": (3,),
    }
    if name in _tz_arity and len(args) in _tz_arity[name]:
        tz = args[-1].strip().strip("'\"")
        if tz in ("UTC", "Etc/UTC", "Universal"):
            # the session pins UTC, so the UTC spellings are the
            # zoneless forms — strip the zone and re-dispatch
            if name == "toString":
                return f"CAST({args[0]} AS STRING)"
            return _render_call(name, args[:-1])
        if args[-1].strip().startswith("'"):
            raise DialectError(
                f"{name}: only the 'UTC' timezone form maps "
                "(session time zone is pinned UTC)"
            )
    if name == "timezoneOf" and len(args) == 1:
        # the session pins UTC (session.py) and Spark timestamps are
        # zone-less instants, so every DateTime column's zone IS the
        # session zone
        return f"IF(({args[0]}) IS NULL, NULL, 'UTC')"
    if name == "encodeURLFormComponent" and len(args) == 1:
        # application/x-www-form-urlencoded: space → '+', which is
        # exactly Spark's url_encode
        return f"url_encode({args[0]})"
    if name == "IPv4NumToStringClassC" and len(args) == 1:
        # args[0] must be parenthesized BEFORE div: `a + b div c`
        # binds as `a + (b div c)` (the probe20 gate caught this).
        # NULL guard: concat_ws SKIPS NULL octets (would fabricate
        # 'xxx' for a NULL address — code-review r12a)
        x = f"({args[0]})"
        o = lambda e: f"CAST({e} AS STRING)"  # noqa: E731
        return (
            f"IF({x} IS NULL, NULL, "
            f"concat_ws('.', {o(f'({x} div 16777216) % 256')}, "
            f"{o(f'({x} div 65536) % 256')}, "
            f"{o(f'({x} div 256) % 256')}, 'xxx'))"
        )
    if name == "MACNumToString" and len(args) == 1:
        x = args[0]
        pairs = ", ".join(
            f"CAST((({x}) div {256 ** i}) % 256 AS INT)"
            for i in (5, 4, 3, 2, 1, 0)
        )
        # format_string returns NULL when the input is NULL, so the
        # whole concat propagates
        return (
            f"IF(({x}) IS NULL, NULL, upper(format_string("
            f"'%02x:%02x:%02x:%02x:%02x:%02x', {pairs})))"
        )
    if name in ("MACStringToNum", "MACStringToOUI") and len(args) == 1:
        src = f"split({args[0]}, ':')"
        if name == "MACStringToOUI":
            src = f"slice({src}, 1, 3)"
        # hex-pair fold; malformed groups conv to NULL and propagate
        # (CH returns 0 on malformed input — NULL is the defensive
        # analog, documented)
        return (
            f"aggregate({src}, CAST(0 AS BIGINT), "
            f"(__ma, __mo) -> __ma * 256 + "
            f"CAST(conv(__mo, 16, 10) AS BIGINT))"
        )
    if name in ("encrypt", "decrypt", "tryDecrypt") and len(args) >= 3:
        # audit batch 17: AES through Spark's native aes_encrypt/
        # aes_decrypt.  The mode must be a literal 'aes-<bits>-<mode>'
        # so the Spark mode string folds at transpile time; Spark
        # infers the key SIZE from the key itself, so a literal key
        # whose length contradicts <bits> refuses here (CH errors at
        # runtime; silently downgrading to AES-128 would be wrong).
        # Layout note (documented): for CBC/GCM Spark prepends the
        # random/given IV to the ciphertext while CH stores only the
        # ciphertext — decrypt(encrypt(…)) round-trips within this
        # engine; cross-engine ciphertext exchange needs GCM with an
        # explicit layout shim.
        mode_txt = args[0].strip()
        if not (mode_txt.startswith("'") and mode_txt.endswith("'")):
            raise DialectError(
                f"{name}: the cipher mode must be a literal string"
            )
        m = re.fullmatch(
            r"aes-(128|192|256)-(ecb|cbc|gcm)", mode_txt[1:-1].lower()
        )
        if not m:
            raise DialectError(
                f"{name}: only aes-128/192/256-ecb/cbc/gcm map to "
                "Spark's aes_encrypt/aes_decrypt; other ciphers "
                "(ofb/cfb/ctr) have no JVM-side register"
            )
        bits, mode = int(m.group(1)), m.group(2).upper()
        key_txt = args[2].strip()
        if (
            key_txt.startswith("'") and key_txt.endswith("'")
            and len(key_txt[1:-1].encode()) != bits // 8
        ):
            raise DialectError(
                f"{name}: aes-{bits} needs a {bits // 8}-byte key "
                f"(got {len(key_txt[1:-1].encode())} bytes) — Spark "
                "sizes the cipher from the key, so a mismatch would "
                "silently change the algorithm"
            )
        fn = {
            "encrypt": "aes_encrypt", "decrypt": "aes_decrypt",
            "tryDecrypt": "try_aes_decrypt",
        }[name]
        extra = ""
        if len(args) >= 4 and name != "encrypt":
            # Spark's aes_decrypt has NO iv parameter (signature:
            # input, key, mode, padding, aad) — it reads the IV from
            # the ciphertext prefix aes_encrypt wrote.  Passing CH's
            # explicit-iv decrypt through would land the IV in the
            # AAD slot (code-review r13a)
            raise DialectError(
                f"{name} with an explicit IV: Spark's AES layout "
                "embeds the IV in the ciphertext prefix (aes_decrypt "
                "takes no iv) — decrypt ciphertext produced by "
                "encrypt() here, or strip/prepend the IV explicitly "
                "for foreign ciphertext"
            )
        if len(args) >= 4 and mode != "ECB":
            extra = f", CAST({args[3]} AS BINARY)"  # explicit iv
            if len(args) >= 5 and mode == "GCM":
                extra += f", CAST({args[4]} AS BINARY)"  # aad
        return (
            f"{fn}(CAST({args[1]} AS BINARY), "
            f"CAST({args[2]} AS BINARY), '{mode}', 'DEFAULT'{extra})"
        )
    if name in ("aes_encrypt_mysql", "aes_decrypt_mysql"):
        raise DialectError(
            f"{name}: MySQL's key-folding scheme (XOR-wrapped "
            "over-length keys) has no Spark twin — use encrypt/"
            "decrypt with an exact-length key"
        )
    if name in ("MD4", "keccak256", "BLAKE3", "SHA512_256"):
        raise DialectError(
            f"{name}: no JVM-side digest register (Spark ships "
            "md5/sha1/sha2/crc32 and xxhash64) — use those, or a "
            "pandas_udf for legacy digests"
        )
    if name == "flameGraph":
        raise DialectError(
            "flameGraph aggregates ClickHouse trace-log samples — "
            "profile Spark through the Spark UI / event log, not SQL"
        )
    if name == "seriesDecomposeSTL":
        raise DialectError(
            "seriesDecomposeSTL: real iterative DSP (LOESS season/"
            "trend fitting) — over rows use the gated time-series "
            "operators (operators/timeseries.py: LTTB downsample, "
            "gap fill, rank correlation) or spell the window "
            "analysis explicitly"
        )
    if name == "seriesPeriodDetectFFT" and len(args) == 1:
        # Period detection (r15, VERDICT r14 item 3 — was walled
        # with STL): CH computes the FFT periodogram and returns
        # round(n / argmax_k |X_k|²) over the positive-frequency
        # bins as Float64.  A deterministic O(n²) DFT cos/sin fold
        # is value-identical for the argmax (the transform is
        # exact up to fp rounding): power(k) = re² + im², k ∈
        # [1, ⌊n/2⌋], strict > keeps the LOWEST k on ties (CH's
        # scan order).  Subtracting the mean is a no-op off bin 0
        # (a constant's DFT is zero at k ≠ 0), and bin 0 is
        # excluded — so centering the series first is analytically
        # free; we DO center (__fs = x - mean) so a constant series
        # zeroes every term EXACTLY in fp and the degenerate
        # all-zero spectrum → NaN (without centering, twiddle
        # rounding noise would elect an arbitrary bin).  < 4 points
        # throws (CH BAD_ARGUMENTS).  Both docs examples pinned in
        # tests.  Bounded-array contract: O(n²) work per row —
        # fine for series columns, not a frame aggregator.  The
        # argument is bound ONCE (__fr) per the tree-size lesson.
        n = "size(__fs)"
        # Twiddle factors come from n-entry cos/sin TABLES computed
        # once per row (r16, guide §1.2: don't recompute what a pass
        # can precompute): the k-th bin's t-th factor is
        # cos(2π·((k·t) mod n)/n), so the O(n²) MAC loop does two
        # array lookups per term instead of two libm trig calls —
        # measured ~2× on the gate.  cos(2π·((kt) mod n)/n) equals
        # cos(2π·kt/n) analytically (period n); fp placement of the
        # argument differs at ulp scale, which cannot move the
        # periodogram argmax off a real peak, and the exact-zero
        # constant-series tier is untouched (centered zeros multiply
        # the table entries to exact 0.0 either way).  __fv is the
        # cos table, __fu the sin table; the argmax fold below is
        # unchanged.  k·t is computed in BIGINT — the INT product
        # overflows for series past ~2^16 elements (review r16a),
        # where the replaced double-promoted spelling was exact.
        # The k-th bin's twiddle index advances by k (mod n) per
        # sample, so the fold carries it as an INT accumulator field
        # (add + single conditional subtract — k ≤ ⌊n/2⌋ < n bounds
        # the sum below 2n) instead of recomputing BIGINT k·t % n
        # per term (r17, guide §1.2).  The SAME table entries are
        # fetched in the same order, so every MAC is bit-identical
        # to the r16 spelling; Goertzel's recurrence was REJECTED
        # here — its different rounding path could flip the argmax
        # against the DuckDB oracle's mirror of this exact DFT on a
        # near-tie spectrum.
        bin_power = (
            "element_at(transform(array("
            f"aggregate(sequence(0, {n} - 1), "
            "named_struct('re', 0.0d, 'im', 0.0d, 'ix', 0), "
            "(__fb, __ft) -> named_struct("
            "'re', __fb.re + element_at(__fs, __ft + 1) * "
            "element_at(__fv, __fb.ix + 1), "
            "'im', __fb.im - element_at(__fs, __ft + 1) * "
            "element_at(__fu, __fb.ix + 1), "
            f"'ix', IF(__fb.ix + __fk >= {n}, "
            f"__fb.ix + __fk - {n}, __fb.ix + __fk)))), "
            "__ff -> __ff.re * __ff.re + __ff.im * __ff.im), 1)"
        )
        best = (
            f"aggregate(sequence(1, CAST(floor({n} / 2) AS INT)), "
            "named_struct('m', 0.0d, 'k', 0), "
            f"(__fa, __fk) -> element_at(transform(array({bin_power}"
            # NOT isnan: Spark orders NaN above every number, so a
            # NaN-poisoned bin (NaN in the input series) would win
            # the argmax and elect an arbitrary period — C++'s
            # `power > max` is false for NaN, so CH never elects
            # one; skipping NaN powers reproduces that (all-NaN
            # spectrum → k = 0 → the NaN tier) (code-review r15a)
            "), __fp -> IF(__fp > __fa.m AND NOT isnan(__fp), "
            "named_struct('m', __fp, 'k', __fk), __fa)), 1))"
        )
        body = (
            f"element_at(transform(array({best}), "
            "__fw -> IF(__fw.k = 0, CAST('NaN' AS DOUBLE), "
            f"round(CAST({n} AS DOUBLE) / __fw.k))), 1)"
        )
        # bind the cos (__fv) and sin (__fu) twiddle tables once per
        # row, inside the __fs scope so `n` resolves
        tables = (
            "element_at(transform(array("
            f"transform(sequence(0, {n} - 1), "
            f"__fi -> cos(2.0d * pi() * __fi / {n}))), __fv -> "
            "element_at(transform(array("
            f"transform(sequence(0, {n} - 1), "
            f"__fi -> sin(2.0d * pi() * __fi / {n}))), __fu -> "
            f"{body}), 1)), 1)"
        )
        return (
            f"element_at(transform(array({args[0]}), __fr -> "
            "IF(size(__fr) < 4, "
            "raise_error('seriesPeriodDetectFFT: the series must "
            "contain at least 4 values'), "
            "element_at(transform(array(transform(__fr, "
            "__f0 -> CAST(__f0 AS DOUBLE))), __fd -> "
            "element_at(transform(array("
            "aggregate(__fd, 0.0d, (__fc, __fa) -> __fc + __fa) "
            "/ size(__fd)), __fm -> "
            "element_at(transform(array(transform(__fd, "
            "__f1 -> __f1 - __fm)), __fs -> "
            f"{tables}), 1)), 1)), 1))), 1)"
        )
    if name == "seriesPeriodDetectFFT":
        raise DialectError(
            "seriesPeriodDetectFFT takes exactly one series array"
        )
    if name == "seriesOutliersDetectTukey" and len(args) in (1, 4):
        # Tukey-fence outlier scores (VERDICT r13 item 4): pure
        # quartile arithmetic over one array — no DSP.  CH's
        # quantile here (pinned by BOTH docs examples): pos = n*p;
        # integral pos averages sorted[pos-1..pos] (1-based), else
        # takes sorted[floor(pos)+1] — i.e. the CDF midpoint method,
        # NOT the (n-1)p interpolation the quantileExact family
        # uses.  Score = distance beyond the K·IQR fence, else 0.
        # Percentiles/K must be literals (CH requires constants;
        # they fold into the expression), percentiles in
        # [0.02, 0.98], K >= 0, series length >= 4 — all CH's own
        # argument contract.
        if len(args) == 4:
            lits = []
            for a_ in args[1:]:
                if not re.fullmatch(r"-?\d+(\.\d+)?", a_.strip()):
                    raise DialectError(
                        "seriesOutliersDetectTukey: percentiles and "
                        "K must be numeric literals"
                    )
                lits.append(float(a_))
            pmin, pmax, kf = lits
            if not (0.02 <= pmin <= 0.98 and 0.02 <= pmax <= 0.98):
                raise DialectError(
                    "seriesOutliersDetectTukey: percentiles must be "
                    "in [0.02, 0.98]"
                )
            if kf < 0:
                raise DialectError(
                    "seriesOutliersDetectTukey: K must be >= 0"
                )
        else:
            pmin, pmax, kf = 0.25, 0.75, 1.5

        def _tukey_q(p: float) -> str:
            pos = f"(CAST(size(__ss) AS DOUBLE) * {p!r}d)"
            return (
                f"IF({pos} = floor({pos}), "
                f"(element_at(__ss, CAST({pos} AS INT)) + "
                f"element_at(__ss, CAST({pos} AS INT) + 1)) / 2.0d, "
                f"element_at(__ss, CAST(floor({pos}) AS INT) + 1))"
            )

        # the argument is bound ONCE (__sr) — an arbitrarily large
        # series expression must not be copied into every tier of
        # the fold (analysis/codegen cost scales with tree size)
        return (
            f"element_at(transform(array({args[0]}), __sr -> "
            "IF(size(__sr) < 4, "
            "raise_error('seriesOutliersDetectTukey: the series "
            "must contain at least 4 values'), "
            "element_at(transform(array(array_sort(transform(__sr, "
            "__so -> CAST(__so AS DOUBLE)))), __ss -> "
            f"element_at(transform(array(named_struct("
            f"'q1', {_tukey_q(pmin)}, 'q3', {_tukey_q(pmax)})), "
            f"__sq -> element_at(transform(array(named_struct("
            f"'lo', __sq.q1 - {kf!r}d * (__sq.q3 - __sq.q1), "
            f"'hi', __sq.q3 + {kf!r}d * (__sq.q3 - __sq.q1))), "
            f"__sf -> transform(__sr, __sx0 -> "
            "element_at(transform(array(CAST(__sx0 AS DOUBLE)), "
            "__sx -> CASE WHEN __sx < __sf.lo THEN __sf.lo - __sx "
            "WHEN __sx > __sf.hi THEN __sx - __sf.hi "
            "ELSE 0.0d END), 1))), 1)), 1)), 1))), 1)"
        )
    if name == "seriesOutliersDetectTukey":
        # 2/3/5+-arg forms refuse instead of leaking the CH name
        # into a Spark unresolved-function error (code-review r14a)
        raise DialectError(
            "seriesOutliersDetectTukey takes (series) or "
            "(series, min_percentile, max_percentile, K)"
        )
    if name == "geohashesInBox":
        raise DialectError(
            "geohashesInBox enumerates a cover grid (unbounded "
            "output per row) — geohashEncode/geohashDecode transpile; "
            "generate covers driver-side and join on the encoded cell"
        )
    if name == "isIPAddressInRange" and len(args) == 2:
        addr, cidr = args
        if ":" in cidr or ":" in addr:
            raise DialectError(
                "isIPAddressInRange over IPv6 needs the 128-bit "
                "binary tier (the toIPv6 wall); the IPv4 dotted-quad "
                "form transpiles"
            )
        num = (
            lambda s: f"aggregate(split({s}, '\\\\.'), "  # noqa: E731
            f"CAST(0 AS BIGINT), "
            f"(__a, __o) -> __a * 256 + CAST(__o AS BIGINT))"
        )
        net = f"element_at(split({cidr}, '/'), 1)"
        p = f"CAST(element_at(split({cidr}, '/'), 2) AS INT)"
        # prefix > 32 is an invalid IPv4 CIDR — CH throws; Spark's
        # shiftright would mask the negative shift Java-style and
        # return a silently-wrong membership, so answer false
        # (documented refinement, mirrors the p <= 0 guard;
        # ADVICE r12)
        return (
            f"(CASE WHEN {p} <= 0 THEN true "
            f"WHEN {p} > 32 THEN false ELSE "
            f"shiftright({num(addr)}, 32 - {p}) = "
            f"shiftright({num(net)}, 32 - {p}) END)"
        )
    if name.endswith("MappedArrays") and name[
        : -len("MappedArrays")
    ] in ("sum", "min", "max"):
        # CH synonyms of the sumMap/minMap/maxMap spellings — any
        # arity delegates (the base register validates; r15 batch
        # 29: the two-arg gate leaked the single-Map-column form)
        return _render_call(name[: -len("MappedArrays")] + "Map", args)
    if name == "accurateCastOrDefault" and len(args) in (2, 3) \
            and args[1].startswith("'") and args[1].endswith("'"):
        # delegate to the defensive-cast family when the target has a
        # guarded register: accurateCastOrDefault('300', 'UInt8', d)
        # must return d — the CH WIDTH range, not the wider Spark
        # type's (code-review r12a).  DateTime/DateTime64 are
        # EXCLUDED: their Or* twins take timezone/scale as the second
        # argument, so the delegation would drop or misread the
        # default (code-review r12b) — the plain TRY_CAST path below
        # is already faithful for them (no width issue on TIMESTAMP)
        cht = args[1][1:-1].strip()
        if f"to{cht}" in _OR_CAST and cht not in (
            "DateTime", "DateTime64",
        ):
            if len(args) == 3:
                return _render_call(
                    f"to{cht}OrDefault", [args[0], args[2]]
                )
            return _render_call(f"to{cht}OrZero", [args[0]])
        from clickhouse_vs_dbt_spark.ddl import convert_type

        t = convert_type(cht)
        inner = f"TRY_CAST({args[0]} AS {t})"
        if len(args) == 3:
            return f"coalesce({inner}, CAST({args[2]} AS {t}))"
        # 2-arg form: the type's default value (CH: 0 / '' / epoch)
        zero = {
            "STRING": "''", "DATE": "DATE'1970-01-01'",
            "TIMESTAMP": "TIMESTAMP'1970-01-01 00:00:00'",
            "TIMESTAMP_NTZ": "TIMESTAMP'1970-01-01 00:00:00'",
        }.get(t.upper().split("(")[0], "0")
        return f"coalesce({inner}, CAST({zero} AS {t}))"
    if name == "arrayLevenshteinDistance" and len(args) == 2:
        # classic two-row DP as nested folds: the outer aggregate
        # walks a's elements, the inner rebuilds the DP row over b's
        # indices (prefix-dependent, so transform can't express it).
        # Both arrays bind ONCE via the single-element transform.
        # Empty-side guards dodge Spark's DESCENDING sequence(1, 0).
        return (
            f"element_at(transform(array(named_struct("
            f"'a', {args[0]}, 'b', {args[1]})), __lv -> "
            "CASE WHEN size(__lv.a) = 0 THEN CAST(size(__lv.b) AS BIGINT) "
            "WHEN size(__lv.b) = 0 THEN CAST(size(__lv.a) AS BIGINT) "
            "ELSE element_at(aggregate(__lv.a, "
            "transform(sequence(0, size(__lv.b)), "
            "__j -> CAST(__j AS BIGINT)), "
            "(__row, __ai) -> aggregate(sequence(1, size(__lv.b)), "
            "array(element_at(__row, 1) + 1), "
            "(__cur, __j) -> concat(__cur, array(least("
            "element_at(__row, __j + 1) + 1, "
            "element_at(__cur, __j) + 1, "
            "element_at(__row, __j) + CASE WHEN __ai <=> "
            "element_at(__lv.b, __j) THEN 0 ELSE 1 END))))), "
            "-1) END), 1)"
        )
    if name == "replicate" and len(args) == 2:
        # CH's internal broadcast helper: x repeated once per
        # element of arr (r15 batch 32)
        return f"transform({args[1]}, __rp -> {args[0]})"
    if name == "arrayLevenshteinDistanceWeighted" and len(args) == 4:
        # weighted DP (r15 batch 30): deletion costs
        # from_weights[i], insertion to_weights[j], substitution
        # (equal ? 0 : wa[i] + wb[j]) — ClickHouse's cost model,
        # docs example (['A','B','C'], ['A','K','L'], [1,2,3],
        # [3,4,5]) = 14 pinned in tests.  Float64 result; same
        # two-row nested-fold shape as arrayLevenshteinDistance;
        # the four arrays bind ONCE via the struct; mismatched
        # weight lengths throw (CH BAD_ARGUMENTS).
        return (
            f"element_at(transform(array(named_struct("
            f"'a', {args[0]}, 'b', {args[1]}, "
            f"'wa', {args[2]}, 'wb', {args[3]})), __lw -> "
            "CASE WHEN size(__lw.a) != size(__lw.wa) "
            "OR size(__lw.b) != size(__lw.wb) THEN "
            "raise_error('arrayLevenshteinDistanceWeighted: each "
            "array needs one weight per element') "
            "WHEN size(__lw.a) = 0 THEN aggregate(__lw.wb, 0.0d, "
            "(__s, __w) -> __s + CAST(__w AS DOUBLE)) "
            "WHEN size(__lw.b) = 0 THEN aggregate(__lw.wa, 0.0d, "
            "(__s, __w) -> __s + CAST(__w AS DOUBLE)) "
            "ELSE element_at(aggregate(sequence(1, size(__lw.a)), "
            "aggregate(sequence(1, size(__lw.b)), array(0.0d), "
            "(__r0, __j) -> concat(__r0, array("
            "element_at(__r0, -1) + "
            "CAST(element_at(__lw.wb, __j) AS DOUBLE)))), "
            "(__row, __i) -> aggregate(sequence(1, size(__lw.b)), "
            "array(element_at(__row, 1) + "
            "CAST(element_at(__lw.wa, __i) AS DOUBLE)), "
            "(__cur, __j) -> concat(__cur, array(least("
            "element_at(__row, __j + 1) + "
            "CAST(element_at(__lw.wa, __i) AS DOUBLE), "
            "element_at(__cur, __j) + "
            "CAST(element_at(__lw.wb, __j) AS DOUBLE), "
            "element_at(__row, __j) + CASE WHEN "
            "element_at(__lw.a, __i) <=> element_at(__lw.b, __j) "
            "THEN 0.0d ELSE "
            "CAST(element_at(__lw.wa, __i) AS DOUBLE) + "
            "CAST(element_at(__lw.wb, __j) AS DOUBLE) END))))), "
            "-1) END), 1)"
        )
    if name == "arrayLevenshteinDistanceWeighted":
        raise DialectError(
            "arrayLevenshteinDistanceWeighted takes (from, to, "
            "from_weights, to_weights)"
        )
    if name == "analysisOfVariance" and len(args) == 2:
        # one-way ANOVA over (value, category): sort the collected
        # (g, v) pairs by group so one indexed fold accumulates the
        # per-group sufficient statistics (Σv_g)²/n_g without typing
        # the group key into the state; F = (SSB/(k−1))/(SSW/(n−k)),
        # p = the F upper tail via the shared incomplete-beta
        # register (compat.ch_f_pvalue, aggregate-output rows only).
        # Collect-class state like the quantileExact tier —
        # documented; CH's own state is per-distinct-group.
        v, g = args
        pairs = (
            f"sort_array(collect_list(CASE WHEN ({v}) IS NOT NULL "
            f"AND ({g}) IS NOT NULL THEN named_struct('g', {g}, "
            f"'v', CAST({v} AS DOUBLE)) END))"
        )
        fold = (
            "aggregate(sequence(1, size(__av)), "
            "named_struct('gn', 0.0d, 'gs', 0.0d, 'k', 0.0d, "
            "'n', 0.0d, 'sv', 0.0d, 'svv', 0.0d, 'acc', 0.0d), "
            "(__s, __i) -> CASE WHEN __i = 1 OR NOT "
            "(element_at(__av, __i).g <=> element_at(__av, __i - 1).g) "
            "THEN named_struct("
            "'gn', 1.0d, 'gs', element_at(__av, __i).v, "
            "'k', __s.k + 1, 'n', __s.n + 1, "
            "'sv', __s.sv + element_at(__av, __i).v, "
            "'svv', __s.svv + element_at(__av, __i).v * "
            "element_at(__av, __i).v, "
            "'acc', __s.acc + IF(__i = 1, 0.0d, "
            "__s.gs * __s.gs / __s.gn)) "
            "ELSE named_struct("
            "'gn', __s.gn + 1, 'gs', __s.gs + element_at(__av, __i).v, "
            "'k', __s.k, 'n', __s.n + 1, "
            "'sv', __s.sv + element_at(__av, __i).v, "
            "'svv', __s.svv + element_at(__av, __i).v * "
            "element_at(__av, __i).v, "
            "'acc', __s.acc) END, "
            "__s -> named_struct('k', __s.k, 'n', __s.n, "
            "'sv', __s.sv, 'svv', __s.svv, "
            "'acc', __s.acc + IF(__s.n > 0, "
            "__s.gs * __s.gs / __s.gn, 0.0d)))"
        )
        # p-value via the PURE-SQL Beta tail (_betainc_sql): a Python
        # UDF cannot be extracted from an Aggregate whose argument
        # tree contains lambdas, and the fold IS lambdas — so the
        # whole tuple stays in Catalyst expressions end to end
        fstat = (
            "CASE WHEN __st.k >= 2 AND __st.n > __st.k AND "
            "(__st.svv - __st.acc) > 0 THEN "
            "((__st.acc - __st.sv * __st.sv / __st.n) / (__st.k - 1)) "
            "/ ((__st.svv - __st.acc) / (__st.n - __st.k)) END"
        )
        pval = _betainc_sql(
            "(__st.n - __st.k) / ((__st.n - __st.k) + "
            f"(__st.k - 1) * ({fstat}))",
            "(__st.n - __st.k) / 2.0d",
            "(__st.k - 1) / 2.0d",
        )
        # the named_struct stays OUTERMOST (each field carries its
        # own fold bind): the positional `.N` tuple rewrite matches a
        # literal named_struct, and `.1` access then prunes the
        # p-value's Beta fold entirely via CreateNamedStruct
        # simplification
        wrap = (
            lambda body: f"element_at(transform(array({pairs}), "
            f"__av -> element_at(transform(array({fold}), "
            f"__st -> {body}), 1)), 1)"
        )
        return (
            f"named_struct('f_statistic', {wrap(fstat)}, "
            f"'p_value', {wrap(pval)})"
        )
    if name == "currentSchemas" and len(args) <= 1:
        # postgres-compat schema list; one catalog database here
        return "array(current_database())"
    if name in ("dictGetHierarchy", "dictGetDescendants",
                "dictGetChildren", "dictIsIn", "dictGetAll"):
        raise DialectError(
            f"{name}: hierarchical dictionaries are not registered "
            "here — flatten the hierarchy into a closure table and "
            "join, or use dictGet on each level"
        )
    if name.startswith("regionTo") or name == "regionIn":
        raise DialectError(
            f"{name} reads ClickHouse's embedded geobase files — "
            "join a regions dimension table instead"
        )
    if name in (
        "demangle", "addressToLine", "addressToLineWithInlines",
        "addressToSymbol", "tid", "logTrace",
    ):
        raise DialectError(
            f"{name}: ClickHouse trace/introspection — profile "
            "Spark through the Spark UI / event log"
        )
    if name == "connectionId" or name == "connection_id":
        raise DialectError(
            "connectionId reads server connection state (the "
            "tcpPort/serverUUID wall)"
        )
    if name in ("displayName", "getMacro", "blockSerializedSize"):
        raise DialectError(
            f"{name} reads ClickHouse server configuration/state — "
            "the hostName/uptime/block* introspection wall"
        )
    if name == "geoDistance" and len(args) == 4:
        # WGS-84 ellipsoid distance via the Andoyer–Lambert
        # first-order flattening correction (public formula —
        # Astronomical Algorithms ch. 11 / classic geodesy texts):
        # relative error vs the true geodesic is O(f²) ≈ 1.1e-5,
        # inside CH geoDistance's own documented accuracy band.
        # Pure Catalyst arithmetic; the named_struct/transform
        # ladder binds each intermediate once (the _betainc_sql
        # precedent), and the same formula spells in the DuckDB
        # oracle (O_GEO_DIST_ELL below; tolerance in MIGRATION.md).
        # Args are (lon1, lat1, lon2, lat2) degrees, result meters.
        lon1, lat1, lon2, lat2 = args
        # F = mean latitude, G = half lat difference, L = half lon
        # difference (all radians)
        bind1 = (
            "named_struct("
            f"'f', radians(CAST(({lat1}) AS DOUBLE) + ({lat2})) "
            "/ 2.0d, "
            f"'g', radians(CAST(({lat1}) AS DOUBLE) - ({lat2})) "
            "/ 2.0d, "
            f"'l', radians(CAST(({lon1}) AS DOUBLE) - ({lon2})) "
            "/ 2.0d)"
        )
        bind2 = (
            "named_struct("
            "'s', pow(sin(__ad.g), 2) * pow(cos(__ad.l), 2) + "
            "pow(cos(__ad.f), 2) * pow(sin(__ad.l), 2), "
            "'c', pow(cos(__ad.g), 2) * pow(cos(__ad.l), 2) + "
            "pow(sin(__ad.f), 2) * pow(sin(__ad.l), 2), "
            "'sf', pow(sin(__ad.f), 2) * pow(cos(__ad.g), 2), "
            "'cf', pow(cos(__ad.f), 2) * pow(sin(__ad.g), 2))"
        )
        # D = 2ωa with ω = atan(√(S/C)); H1 = (3R−1)/2C,
        # H2 = (3R+1)/2S, R = √(SC)/ω;
        # d = D(1 + f·H1·sin²F·cos²G − f·H2·cos²F·sin²G).
        # S ≤ 0 ⇒ coincident points (0); C ≤ 0 ⇒ antipodal, where
        # every first-order series degenerates — return the
        # ellipse-mean πa(1−f/2) limit
        body = (
            "CASE WHEN __sc.s <= 0.0d THEN 0.0d "
            "WHEN __sc.c <= 0.0d THEN "
            "pi() * 6378137.0d * (1.0d - 0.5d / 298.257223563d) "
            "ELSE element_at(transform(array(named_struct("
            "'w', atan(sqrt(__sc.s / __sc.c)))), __w -> "
            "2.0d * __w.w * 6378137.0d * (1.0d + "
            "(1.0d / 298.257223563d) * ("
            "(3.0d * sqrt(__sc.s * __sc.c) / __w.w - 1.0d) "
            "/ (2.0d * __sc.c) * __sc.sf - "
            "(3.0d * sqrt(__sc.s * __sc.c) / __w.w + 1.0d) "
            "/ (2.0d * __sc.s) * __sc.cf))), 1) END"
        )
        return (
            f"element_at(transform(array({bind1}), __ad -> "
            f"element_at(transform(array({bind2}), __sc -> "
            f"{body}), 1)), 1)"
        )
    if name in (
        "arrayEnumerateUniqRanked", "arrayEnumerateDenseRanked",
    ) and args:
        raise DialectError(
            f"{name}'s depth-ranked numbering has "
            "no bounded Spark fold here — arrayEnumerateUniq/Dense "
            "(which transpile) cover the flat case"
        )
    # ---- r12 audit batch 16 ----------------------------------------
    if name == "nothing":
        # CH's internal type-Nothing AGGREGATE: always NULL — spelled
        # as an aggregate so grouped/global queries keep their
        # collapse-to-one-row shape (code-review r12c: a scalar NULL
        # returned one row per input row); zero-arg form included
        return "max(CAST(NULL AS STRING))"
    if name == "toTimeWithFixedDate" and len(args) == 1:
        return _render_call("toTime", args)  # newer alias of toTime
    if name == "tryBase58Decode" and len(args) == 1:
        # NULL-on-invalid twin of base58Decode (compat Arrow UDF)
        return f"ch_try_base58_decode({args[0]})"
    if name == "addTupleOfIntervals" and len(args) == 2:
        fields = _tuple_fields(args[1])
        if fields is None:
            raise DialectError(
                "addTupleOfIntervals: the interval tuple must be a "
                "LITERAL — (INTERVAL 1 DAY, INTERVAL 1 MONTH) — so "
                "the additions unroll at transpile time"
            )
        return "(" + args[0] + "".join(
            f" + ({f})" for f in fields
        ) + ")"
    if name == "subtractTupleOfIntervals" and len(args) == 2:
        # batch 19: the minus twin of addTupleOfIntervals
        fields = _tuple_fields(args[1])
        if fields is None:
            raise DialectError(
                "subtractTupleOfIntervals: the interval tuple must "
                "be a LITERAL — (INTERVAL 1 DAY, INTERVAL 1 MONTH) — "
                "so the subtractions unroll at transpile time"
            )
        # parenthesized per field: a compound field like
        # (toIntervalDay(1) + toIntervalDay(2)) must keep its sign
        # under the distributed minus (code-review r13f)
        return "(" + args[0] + "".join(
            f" - ({f})" for f in fields
        ) + ")"
    if name == "tupleNames" and len(args) == 1:
        fields = _tuple_fields(args[0])
        if fields is None:
            raise DialectError(
                "tupleNames transpiles for LITERAL tuples (unnamed "
                "fields enumerate as '1', '2', …); column tuples "
                "keep their Spark struct schema — use toTypeName"
            )
        ns = ", ".join(f"'{n + 1}'" for n in range(len(fields)))
        return f"array({ns})"
    if name == "tupleElement" and len(args) == 3:
        # 3-arg form: default when the index is out of bounds — for
        # literal tuples + literal index this folds at transpile time
        fields = _tuple_fields(args[0])
        if fields is not None and re.fullmatch(
            r"\d+", args[1].strip()
        ):
            idx = int(args[1])
            if 1 <= idx <= len(fields):
                return f"({fields[idx - 1]})"
            return f"({args[2]})"
        raise DialectError(
            "tupleElement(t, n, default) transpiles for a LITERAL "
            "tuple and index (the arity is a compile-time fact); "
            "in-bounds access needs no default — use t.n"
        )
    if name == "throwIf" and len(args) in (1, 2, 3):
        # CH: raises when the condition is NON-ZERO (numeric contract
        # — code-review r12c: Spark's NOT needs a boolean, so route
        # through CAST AS BOOLEAN), returns 0 otherwise, and a NULL
        # condition returns NULL WITHOUT throwing.  The 3-arg custom
        # error code has no Spark channel and is dropped (the message
        # still carries).  assert_true is the inverted contract:
        # NULL on pass, raise on fail.
        c = args[0]
        msg = args[1] if len(args) >= 2 else "'throwIf'"
        return (
            f"(CASE WHEN assert_true(({c}) IS NULL OR "
            f"NOT CAST(({c}) AS BOOLEAN), {msg}) IS NULL "
            f"THEN IF(({c}) IS NULL, CAST(NULL AS INT), 0) END)"
        )
    if name in (
        "transactionID", "getOSKernelVersion", "currentProfiles",
        "enabledRoles", "enabledProfiles", "currentRoles", "tcpPort",
        "filesystemAvailable", "filesystemCapacity",
        "filesystemUnreserved", "buildId", "getServerPort",
        "globalVariable", "hasThreadFuzzer", "defaultRoles",
        "initialQueryStartTime", "queryStartTime", "showCertificate",
        "hostname", "getMaxTableNameLengthForDatabase",
        # (serverUUID keeps its ORIGINAL wall below — better pointer)
    ):
        raise DialectError(
            f"{name} reads ClickHouse server state/config — the "
            "hostName/uptime/block* introspection wall"
        )
    if name == "generateSerialID":
        raise DialectError(
            "generateSerialID reads a Keeper-backed counter — use "
            "monotonically_increasing_id() (partition-unique) or a "
            "row_number window for dense sequences"
        )
    if name == "icebergTruncate":
        raise DialectError(
            "icebergTruncate dispatches on the ARGUMENT TYPE "
            "(Iceberg partition transform) — spell it directly: "
            "v - pmod(v, W) for numerics, left(s, W) for strings"
        )
    if name == "hasColumnInTable":
        raise DialectError(
            "hasColumnInTable reads the server catalog at runtime; "
            "ask the Spark catalog instead "
            "(spark.catalog.listColumns)"
        )
    if name == "catboostEvaluate":
        raise DialectError(
            "catboostEvaluate needs the CatBoost model runtime — "
            "score with a Spark ML pipeline / pandas UDF instead"
        )
    if name == "partitionID":
        raise DialectError(
            "partitionID computes ClickHouse's engine-layout "
            "partition key hash; Spark's layout is directory "
            "partitioning — use the partition column value itself"
        )
    if name == "shardNum":
        raise DialectError(
            "shardNum is a ClickHouse-cluster routing concept; "
            "spark_partition_id() is the (different) Spark analog — "
            "task partition, not cluster shard"
        )
    if name == "convertCharset":
        raise DialectError(
            "convertCharset needs ICU byte-level transcoding and "
            "BINARY columns (Spark strings are UTF-8) — use "
            "encode(s, charset)/decode(b, charset) over binary data"
        )
    if name == "arrayReduceInRanges":
        raise DialectError(
            "arrayReduceInRanges: spell the ranges with arraySlice + "
            "arrayReduce (both transpile) — the range list is "
            "usually literal, so the unrolling is mechanical"
        )
    # ---- end batch 15/16 -------------------------------------------
    if name == "IPv4NumToString" and len(args) == 1:
        # same pre-div parenthesization and NULL guard as the ClassC
        # form (r12): `a + b div c` binds as `a + (b div c)`, and
        # concat_ws over all-NULL octets fabricates '' instead of
        # NULL
        x = f"({args[0]})"
        o = lambda e: f"CAST({e} AS STRING)"  # noqa: E731
        return (
            f"IF({x} IS NULL, NULL, "
            f"concat_ws('.', {o(f'({x} div 16777216) % 256')}, "
            f"{o(f'({x} div 65536) % 256')}, "
            f"{o(f'({x} div 256) % 256')}, {o(f'{x} % 256')}))"
        )
    if name in ("IPv4StringToNum", "toIPv4") and len(args) == 1:
        return (
            f"aggregate(split({args[0]}, '\\\\.'), CAST(0 AS BIGINT), "
            f"(__a, __o) -> __a * 256 + CAST(__o AS BIGINT))"
        )
    if name == "isIPv4String" and len(args) == 1:
        octet = "(25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])"
        return (
            f"({args[0]} RLIKE '^{octet}\\\\.{octet}\\\\."
            f"{octet}\\\\.{octet}$')"
        )
    if name == "isIPv6String" and len(args) == 1:
        # RFC 4291 textual grammar in two steps: a well-formed
        # embedded-IPv4 tail (preceded by ':') first rewrites to the
        # two hex groups '0:0' it occupies, then ONE pure-hex
        # alternation validates every compression uniformly — the
        # single-regex reference pattern misses uncompressed and
        # long-prefix v4 forms like 0:0:0:0:0:ffff:1.2.3.4
        # (code-review r10b; the rewrite covers ALL v4 placements by
        # construction)
        h = "[0-9A-Fa-f]{1,4}"
        o4 = "(25[0-5]|(2[0-4]|1?[0-9])?[0-9])"
        v4 = f"({o4}\\\\.){{3}}{o4}"
        pure = (
            f"^(({h}:){{7}}{h}|({h}:){{1,7}}:|({h}:){{1,6}}:{h}|"
            f"({h}:){{1,5}}(:{h}){{1,2}}|({h}:){{1,4}}(:{h}){{1,3}}|"
            f"({h}:){{1,3}}(:{h}){{1,4}}|({h}:){{1,2}}(:{h}){{1,5}}|"
            f"{h}:((:{h}){{1,6}})|:((:{h}){{1,7}}|:))$"
        )
        s0 = args[0]
        norm = (
            f"CASE WHEN {s0} RLIKE '^.*:{v4}$' THEN "
            f"regexp_replace({s0}, '{v4}$', '0:0') ELSE {s0} END"
        )
        return f"(({norm}) RLIKE '{pure}')"
    if name == "IPv4CIDRToRange" and len(args) == 2:
        # (ip, prefix) → the subnet's (lo, hi) pair; the numeric mask
        # is exact BIGINT arithmetic, the dotted strings reuse the
        # IPv4NumToString fold.  Fields are positional via the
        # named_struct literal machinery (range.1/.2 work).  The
        # prefix must be a LITERAL in [0, 32]: Spark's shiftleft
        # masks the shift count mod 64, so an out-of-range prefix
        # would produce garbage dotted strings where CH throws
        # (code-review r10b)
        ip, b = args
        bs = b.strip()
        if not bs.isdigit() or int(bs) > 32:
            raise DialectError(
                "IPv4CIDRToRange needs a literal prefix length in "
                "[0, 32] (ClickHouse throws on larger prefixes; "
                "Spark's shift would silently wrap)"
            )
        width = f"shiftleft(CAST(1 AS BIGINT), 32 - CAST({b} AS INT))"
        lo = f"(CAST({ip} AS BIGINT) - pmod(CAST({ip} AS BIGINT), {width}))"
        hi = f"({lo} + {width} - 1)"
        return (
            f"named_struct('lo', "
            + _render_call("IPv4NumToString", [lo])
            + ", 'hi', "
            + _render_call("IPv4NumToString", [hi])
            + ")"
        )
    if name == "IPv4ToIPv6" and len(args) == 1:
        # ::ffff:a.b.c.d — the mapped-IPv6 TEXT form (CH returns the
        # 16-byte binary; the textual form is the portable register)
        return (
            "concat('::ffff:', "
            + _render_call("IPv4NumToString", [args[0]])
            + ")"
        )
    if name == "mortonEncode" and len(args) == 2:
        # 2-D Morton interleave — the zorder operator's own expression
        # (operators/zorder.py zvalue_expr), inlined at 32 bits/dim
        from clickhouse_vs_dbt_spark.operators.zorder import zvalue_expr
        return zvalue_expr(
            f"CAST({args[0]} AS BIGINT)", f"CAST({args[1]} AS BIGINT)",
            bits=32,
        )
    if name == "mortonEncode":
        raise DialectError(
            "mortonEncode: the 2-argument interleave maps (the zorder "
            "layout operator); >2 dimensions exceed the 64-bit code "
            "at 32 bits/dim — interleave pairwise or use zorder_key_"
            "orders' layout machinery"
        )
    if name == "mortonDecode" and len(args) == 2 and args[0] == "2":
        from clickhouse_vs_dbt_spark.operators.zorder import unzvalue_expr
        z = f"CAST({args[1]} AS BIGINT)"
        return (
            f"named_struct('x', {unzvalue_expr(z, True, bits=32)}, "
            f"'y', {unzvalue_expr(z, False, bits=32)})"
        )
    if name == "mortonDecode":
        raise DialectError(
            "mortonDecode: only the 2-dimension form maps (the "
            "mortonEncode inverse at 32 bits/dim) — de-interleave "
            "other dimension counts pairwise"
        )
    if name == "hilbertEncode" and len(args) in (1, 2):
        # 2-D Hilbert index (VERDICT r10 item 6) — the classic xy2d
        # fold from operators/zorder.py; ClickHouse's convention (doc
        # example hilbertEncode(3, 4) = 31) is the classic algorithm
        # with the argument order swapped, applied here.  The 1-arg
        # form is CH's documented identity.
        from clickhouse_vs_dbt_spark.operators.zorder import hilbert_expr
        if len(args) == 1:
            return f"CAST({args[0]} AS BIGINT)"
        return hilbert_expr(args[1], args[0])
    if name == "hilbertDecode" and len(args) == 2 and args[0] == "2":
        from clickhouse_vs_dbt_spark.operators.zorder import unhilbert_expr
        d = f"CAST({args[1]} AS BIGINT)"
        # classic (x, y) swap back into CH's output order
        return (
            f"named_struct('x', {unhilbert_expr(d, False)}, "
            f"'y', {unhilbert_expr(d, True)})"
        )
    if name in ("hilbertEncode", "hilbertDecode"):
        raise DialectError(
            f"{name}: only the 1-/2-dimension forms map (64-bit code, "
            "32 bits per dimension, the mortonEncode contract) — "
            "operators/zorder.py is the layout machinery"
        )
    if name.startswith("reinterpretAs"):
        return _reinterpret(name, args)
    if name == "widthBucket" and len(args) == 4:
        # identical histogram-bucket contract (0 below, count+1 above)
        return f"width_bucket({joined})"
    if name in ("jumpConsistentHash", "kostikConsistentHash"):
        raise DialectError(
            f"{name}: the jump-hash bit contract needs wrapping "
            "unsigned 64-bit multiplies Spark's ANSI BIGINT cannot "
            "spell — pmod(xxhash64(x), n) is THIS engine's stable "
            "consistent bucketing (re-derive persisted buckets on "
            "migration, the cityHash64 contract)"
        )
    if name in ("sqidEncode", "sqidDecode", "sqid"):
        raise DialectError(
            f"{name}: the Sqids codec is an external-library "
            "alphabet contract — base58Encode/Decode transpile for "
            "short-id needs"
        )
    if name in ("formatQuery", "formatQuerySingleLine"):
        raise DialectError(
            f"{name}: pretty-printing requires ClickHouse's own "
            "parser — EXPLAIN SYNTAX through run_clickhouse_script "
            "shows the transpiled Spark SQL instead"
        )
    if name in ("getSetting", "getSettingOrDefault"):
        raise DialectError(
            f"{name}: ClickHouse server settings have no Spark "
            "analog — read Spark conf via spark.conf.get in the "
            "application, not in SQL"
        )
    if name == "arrayLevenshtein" and len(args) == 2:
        raise DialectError(
            "arrayLevenshtein: element-level edit distance needs an "
            "O(n·m) DP register — levenshteinDistance transpiles for "
            "strings; for arrays compare via arrayJaccardIndex or "
            "spell the DP with aggregate()"
        )
    # --- r11 audit batch 14: numeric datestamps, case-insensitive
    #     search variants, MJD guards, geo angle, random strings ---
    if name in ("toYYYYMMDD", "toYYYYMMDDhhmmss") and len(args) in (
        1, 2,
    ):
        # the optional second argument is a timezone (the toDateTime
        # precedent: only 'UTC' maps, the session zone is pinned)
        if len(args) == 2 and args[1].strip().strip(
            "'\""
        ).upper() != "UTC":
            raise DialectError(
                f"{name}: only the 'UTC' timezone form maps "
                "(session time zone is pinned UTC)"
            )
        fmt = "yyyyMMdd" if name == "toYYYYMMDD" else "yyyyMMddHHmmss"
        return f"CAST(date_format({args[0]}, '{fmt}') AS BIGINT)"
    if name in (
        "multiSearchAnyCaseInsensitive",
        "multiSearchFirstIndexCaseInsensitive",
        "multiSearchFirstPositionCaseInsensitive",
        "multiSearchAllPositionsCaseInsensitive",
    ) and len(args) == 2:
        # lowercase both sides and delegate to the mapped base form
        base = name[: -len("CaseInsensitive")]
        return _render_call(
            base,
            [f"lower({args[0]})",
             f"transform({args[1]}, __ci -> lower(__ci))"],
        )
    if name == "hasTokenCaseInsensitive" and len(args) == 2:
        lo = args[1]
        if lo.strip()[:1] in "'\"":
            lo = lo.strip()[:1] + lo.strip()[1:-1].lower() + lo.strip()[-1:]
        return _render_call("hasToken", [f"lower({args[0]})", lo])
    if name in ("hasTokenOrNull", "hasTokenCaseInsensitiveOrNull") \
            and len(args) == 2:
        # CH: NULL when the needle is not a single token (contains
        # separators) — decidable at transpile time for the literal
        # needles the base form requires.  CH's tokenizer: ASCII
        # alphanumerics and non-ASCII bytes are token characters,
        # everything else (INCLUDING '_') separates (code-review
        # r11c — the first cut used \\w, which has '_' backwards and
        # rejected non-ASCII)
        tok = args[1].strip()
        if tok[:1] in "'\"" and not all(
            (c.isascii() and c.isalnum()) or not c.isascii()
            for c in tok[1:-1]
        ):
            return "CAST(NULL AS BOOLEAN)"
        return _render_call(name.removesuffix("OrNull"), args)
    if name == "countMatchesCaseInsensitive" and len(args) == 2:
        pat = args[1].strip()
        if pat[:1] in "'\"":
            return (
                f"regexp_count({args[0]}, "
                f"{pat[0]}(?i){pat[1:-1]}{pat[-1]})"
            )
        # dynamic pattern: prepend the flag at runtime (code-review
        # r11c — this form leaked through verbatim)
        return (
            f"regexp_count({args[0]}, concat('(?i)', {args[1]}))"
        )
    if name == "fromModifiedJulianDayOrNull" and len(args) == 1:
        # CH's documented MJD range 0000-01-01..9999-12-31; outside
        # it the plain form throws and OrNull yields NULL
        return (
            f"(CASE WHEN ({args[0]}) BETWEEN -678941 AND 2973483 "
            f"THEN date_add(DATE'1858-11-17', "
            f"CAST({args[0]} AS INT)) END)"
        )
    if name == "toModifiedJulianDayOrNull" and len(args) == 1:
        return (
            f"datediff(TRY_CAST({args[0]} AS DATE), DATE'1858-11-17')"
        )
    if name == "greatCircleAngle" and len(args) == 4:
        # central angle in DEGREES: the distance expression divided by
        # CH's sphere radius, converted from radians
        dist = _render_call("greatCircleDistance", args)
        return f"(degrees(({dist}) / 6372797.560856))"
    if name == "randomPrintableASCII" and len(args) == 1:
        # n independent uniform chars from the 95 printable ASCII
        # codes (32..126), like CH.  n < 1 → '' (Spark's
        # sequence(1, 0) DESCENDS to [1, 0] — code-review r11c)
        return (
            f"(CASE WHEN CAST({args[0]} AS INT) < 1 THEN '' ELSE "
            f"array_join(transform(sequence(1, CAST({args[0]} AS "
            "INT)), __rp -> char(32 + CAST(floor(rand() * 95) AS "
            "INT))), '') END)"
        )
    if name in (
        "randomString", "randomStringUTF8", "randomFixedString",
    ):
        raise DialectError(
            f"{name}: random BYTE/codepoint strings are not valid "
            "Spark UTF-8 strings — randomPrintableASCII(n) transpiles"
        )
    if name == "fuzzBits" and len(args) == 2:
        # r16 flip of the batch-17 wall (VERDICT r15 item 5, the
        # generateULID(expr)/canonicalRand deterministic style).
        # ClickHouse fuzzBits(s, prob) flips each BIT of s with
        # probability prob using server randomness; this tier is
        # DETERMINISTIC: bit j of byte i flips iff the j-th 16-bit
        # word of md5(s || ':' || i) lands under prob (resolution
        # 1/65536 — draws are (w + 0.5)/65536 so prob=0 flips
        # nothing and prob>=1 flips every bit).  Returns BINARY of
        # the UTF-8 byte length (fuzzed bytes are rarely valid
        # UTF-8 — the same reason the old wall refused; hex()
        # composes as in CH, and prob=0 round-trips via
        # CAST(.. AS STRING)).  The input binds ONCE (__fs), the
        # hex image and per-byte md5 once each (__fb/__h).
        import warnings

        warnings.warn(
            "fuzzBits(s, prob) maps to a DETERMINISTIC md5-seeded "
            "tier: equal (s, prob) inputs produce EQUAL output "
            "(ClickHouse redraws per call), flip probability is "
            "quantized to 1/65536, and the result is BINARY — see "
            "MIGRATION.md",
            DialectWarning,
            stacklevel=2,
        )
        mask = " + ".join(
            f"(CASE WHEN (CAST(conv(substr(__h, {4 * j + 1}, 4), "
            f"16, 10) AS INT) + 0.5) / 65536.0 < __fb.p THEN "
            f"{1 << j} ELSE 0 END)"
            for j in range(8)
        )
        perbyte = (
            "element_at(transform(array(md5(concat(__fb.s, ':', "
            "CAST(__i AS STRING)))), __h -> lpad(upper(conv(CAST(("
            "CAST(conv(substr(__fb.hx, 2 * __i - 1, 2), 16, 10) "
            f"AS INT) ^ ({mask})) AS STRING), 10, 16)), 2, '0')), 1)"
        )
        return (
            f"element_at(transform(array(CAST({args[0]} AS STRING)), "
            "__fs -> element_at(transform(array(named_struct("
            "'s', __fs, 'hx', hex(CAST(__fs AS BINARY)), "
            f"'p', CAST({args[1]} AS DOUBLE))), __fb -> "
            "CASE WHEN length(__fb.hx) < 2 THEN unhex('') ELSE "
            "unhex(array_join(transform(sequence(1, "
            "CAST(length(__fb.hx) AS INT) DIV 2), __i -> "
            f"{perbyte}), '')) END), 1)), 1)"
        )
    if name == "fuzzBits":
        raise DialectError(
            "fuzzBits(s, prob) takes exactly two arguments"
        )
    if name == "generateULID" and len(args) <= 1:
        # ULID writer (r14 flip of the batch-17 wall; public spec:
        # 48-bit ms timestamp + 80 random bits, Crockford base32,
        # 26 chars).  Zero-arg: wall-clock now() + two per-row
        # 40-bit rand() draws, bound ONCE via the let-binding so
        # every character reads the same draw.  One-arg: the
        # generateUUIDv4(expr) DETERMINISTIC md5 tier — CH uses the
        # argument only to defeat CSE; here all 128 bits derive
        # from md5(arg), so the timestamp field is hash bits
        # (DialectWarning, MIGRATION.md).  Round-trips through the
        # ULIDStringToDateTime read register.
        if args:
            import warnings

            warnings.warn(
                "generateULID(expr) maps to a DETERMINISTIC md5 "
                "tier: equal argument values produce EQUAL ids and "
                "the timestamp field is hash bits, not wall clock "
                "(ClickHouse keeps every row random). Use "
                "generateULID() for real time-ordered ids — see "
                "MIGRATION.md",
                DialectWarning,
                stacklevel=2,
            )
            h = f"md5(CAST({args[0]} AS STRING))"
            bind = (
                f"named_struct("
                f"'t', CAST(conv(substr({h}, 1, 12), 16, 10) AS BIGINT), "
                f"'a', CAST(conv(substr({h}, 13, 10), 16, 10) AS BIGINT), "
                f"'b', CAST(conv(substr({h}, 23, 10), 16, 10) AS BIGINT))"
            )
        else:
            bind = (
                "named_struct('t', unix_millis(now()), "
                "'a', CAST(floor(rand() * 1099511627776.0d) AS BIGINT), "
                "'b', CAST(floor(rand() * 1099511627776.0d) AS BIGINT))"
            )
        al = "'0123456789ABCDEFGHJKMNPQRSTVWXYZ'"
        chars = [
            f"substr({al}, CAST((shiftright(__u.t, {45 - 5 * i}) & 31) "
            "AS INT) + 1, 1)"
            for i in range(10)
        ] + [
            f"substr({al}, CAST((shiftright(__u.{f}, {35 - 5 * j}) & 31) "
            "AS INT) + 1, 1)"
            for f in ("a", "b")
            for j in range(8)
        ]
        return (
            f"element_at(transform(array({bind}), __u -> "
            f"concat({', '.join(chars)})), 1)"
        )
    if name == "generateULID":
        raise DialectError(
            "generateULID takes zero arguments (random) or one "
            "(the deterministic md5 tier)"
        )
    if name == "kql":
        raise DialectError(
            "kql(): ClickHouse's experimental Kusto front-end — "
            "write the query in ClickHouse SQL (the transpiler's "
            "input dialect)"
        )
    if name == "evalMLMethod":
        raise DialectError(
            "evalMLMethod applies a server-side trained model STATE "
            "(stochasticLinearRegression/LogisticRegression) — the "
            "pure-SQL inference operator (operators/mlinfer.py, "
            "ml_inference_sql) covers linear scoring with explicit "
            "coefficients"
        )
    if name == "randConstant":
        raise DialectError(
            "randConstant: per-BLOCK constants are a CH execution "
            "detail — rand() (per row) transpiles; for one value per "
            "query compute it in the driver and inline it"
        )
    if name in (
        "generateRandomStructure", "revision",
        "zookeeperSessionUptime", "FQDN",
    ):
        # hostName/uptime/blockNumber… already refuse below
        raise DialectError(
            f"{name}: ClickHouse server introspection — read Spark "
            "application state through the SparkContext, not SQL"
        )
    if name in (
        "pointInPolygon", "pointInEllipses", "polygonAreaCartesian",
        "polygonsIntersectionCartesian",
    ):
        raise DialectError(
            f"{name}: polygon geometry needs a geo library register "
            "— greatCircleDistance/geoDistance/greatCircleAngle "
            "transpile for point math; readWKT*/wkt transpile for "
            "WKT serialization"
        )
    if name == "geohashEncode" and len(args) in (2, 3):
        # public geohash algorithm (the hilbertEncode precedent): 5
        # bits per character, longitude first, interval halving — one
        # codegen fold building the ≤60-bit code, then base32 chars.
        # Precision must be a literal (it sizes the fold).
        p_tok = args[2].strip() if len(args) == 3 else "12"
        if not re.fullmatch(r"\d+", p_tok) or not (
            1 <= int(p_tok) <= 12
        ):
            raise DialectError(
                "geohashEncode: precision must be a literal 1-12"
            )
        p = int(p_tok)
        lon, lat = args[0], args[1]

        def half(axis_lo, axis_hi, v):
            mid = f"(__g.{axis_lo} + __g.{axis_hi}) / 2"
            keep = {
                "alo": "__g.alo", "ahi": "__g.ahi",
                "blo": "__g.blo", "bhi": "__g.bhi",
            }
            hi_side = dict(keep, **{axis_lo: mid})
            lo_side = dict(keep, **{axis_hi: mid})
            mk = lambda d, c: (  # noqa: E731
                "named_struct("
                + ", ".join(f"'{k}', {v_}" for k, v_ in d.items())
                + f", 'c', __g.c * 2 + {c})"
            )
            return (
                f"(CASE WHEN ({v}) >= {mid} THEN {mk(hi_side, 1)} "
                f"ELSE {mk(lo_side, 0)} END)"
            )

        lam = (
            "(__g, __i) -> CASE WHEN __i % 2 = 0 THEN "
            + half("alo", "ahi", lon)
            + " ELSE " + half("blo", "bhi", lat) + " END"
        )
        st0 = (
            "named_struct('alo', CAST(-180 AS DOUBLE), "
            "'ahi', CAST(180 AS DOUBLE), "
            "'blo', CAST(-90 AS DOUBLE), 'bhi', CAST(90 AS DOUBLE), "
            "'c', CAST(0 AS BIGINT))"
        )
        fin = (
            f"__g -> array_join(transform(sequence(1, {p}), __j -> "
            "substr('0123456789bcdefghjkmnpqrstuvwxyz', "
            f"CAST((shiftrightunsigned(__g.c, 5 * ({p} - __j)) & 31) "
            "+ 1 AS INT), 1)), '')"
        )
        # NULL coordinates → NULL, never a valid-looking hash of the
        # zero branch (code-review r11c)
        return (
            f"(CASE WHEN ({lon}) IS NULL OR ({lat}) IS NULL THEN "
            "CAST(NULL AS STRING) ELSE "
            f"aggregate(sequence(0, {5 * p - 1}), {st0}, {lam}, {fin})"
            " END)"
        )
    if name == "geohashDecode" and len(args) == 1:
        # inverse fold: chars → 5-bit groups → interval halving; the
        # cell CENTER comes back as ('longitude', 'latitude').
        # Invalid characters or >12 chars raise at runtime (CH throws
        # too) — never a silently wrong coordinate.
        s = args[0]
        # the char→bits code binds ONCE per row in a second transform
        # level (__gc), never inside the per-bit lambda (code-review
        # r11c: inlining it re-ran the O(len) fold on every one of the
        # 5·len bits — the hilbert-query lesson one level down)
        code = (
            "aggregate(sequence(1, length(__gs)), CAST(0 AS BIGINT), "
            "(__c, __j) -> __c * 32 + "
            "(instr('0123456789bcdefghjkmnpqrstuvwxyz', "
            "substr(__gs, __j, 1)) - 1))"
        )
        body = (
            "aggregate(sequence(0, 5 * length(__gs) - 1), "
            "named_struct('alo', CAST(-180 AS DOUBLE), "
            "'ahi', CAST(180 AS DOUBLE), 'blo', CAST(-90 AS DOUBLE), "
            "'bhi', CAST(90 AS DOUBLE)), "
            "(__g, __i) -> CASE WHEN __i % 2 = 0 THEN "
            "(CASE WHEN (shiftrightunsigned(__gc, "
            "5 * length(__gs) - 1 - __i) & 1) = 1 THEN "
            "named_struct('alo', (__g.alo + __g.ahi) / 2, "
            "'ahi', __g.ahi, 'blo', __g.blo, 'bhi', __g.bhi) "
            "ELSE named_struct('alo', __g.alo, "
            "'ahi', (__g.alo + __g.ahi) / 2, 'blo', __g.blo, "
            "'bhi', __g.bhi) END) "
            "ELSE (CASE WHEN (shiftrightunsigned(__gc, "
            "5 * length(__gs) - 1 - __i) & 1) = 1 THEN "
            "named_struct('alo', __g.alo, 'ahi', __g.ahi, "
            "'blo', (__g.blo + __g.bhi) / 2, 'bhi', __g.bhi) "
            "ELSE named_struct('alo', __g.alo, 'ahi', __g.ahi, "
            "'blo', __g.blo, 'bhi', (__g.blo + __g.bhi) / 2) END) "
            "END, "
            "__g -> named_struct("
            "'longitude', (__g.alo + __g.ahi) / 2, "
            "'latitude', (__g.blo + __g.bhi) / 2))"
        )
        bound = (
            f"element_at(transform(array({code}), __gc -> {body}), 1)"
        )
        return (
            f"element_at(transform(array(lower({s})), __gs -> "
            # NULL input → NULL (CH); invalid text → loud error
            "CASE WHEN __gs IS NULL THEN NULL "
            "WHEN length(__gs) BETWEEN 1 AND 12 AND "
            "regexp_like(__gs, "
            "'^[0-9bcdefghjkmnpqrstuvwxyz]+$') "
            f"THEN {bound} ELSE raise_error(concat('geohashDecode: "
            "invalid geohash: ', __gs)) END), 1)"
        )
    # --- r11 audit batch 13: field-change date surgery, string
    #     byte stats, readable-size parse, misc aliases ---
    if name in (
        "changeYear", "changeMonth", "changeDay", "changeHour",
        "changeMinute", "changeSecond",
    ) and len(args) == 2:
        # CH sets one datetime field, SATURATING invalid results
        # (changeDay(.., 31) in a 30-day month clamps) — spelled as a
        # delta via timestampadd, with the day/new-value clamped to
        # the valid range first so no branch can roll over or throw
        x, n = args
        unit = name[len("change"):].upper()
        cur = {
            "YEAR": f"year({x})", "MONTH": f"month({x})",
            "DAY": f"day({x})", "HOUR": f"hour({x})",
            "MINUTE": f"minute({x})", "SECOND": f"second({x})",
        }[unit]
        clamp = {
            "MONTH": (1, 12), "DAY": None,
            "HOUR": (0, 23), "MINUTE": (0, 59), "SECOND": (0, 59),
        }.get(unit)
        if unit == "DAY":
            new = (
                f"least(greatest(({n}), 1), "
                f"day(last_day({x})))"
            )
        elif clamp:
            new = f"least(greatest(({n}), {clamp[0]}), {clamp[1]})"
        else:
            new = f"({n})"
        return f"timestampadd({unit}, {new} - {cur}, {x})"
    if name == "mid" and len(args) in (2, 3):
        return f"substring({joined})"
    if name == "firstLine" and len(args) == 1:
        # CRLF, lone LF, AND lone CR all terminate a line in CH
        # (code-review r11b)
        return f"element_at(split({args[0]}, '\\r\\n|[\\r\\n]'), 1)"
    if name in (
        "stringBytesUniq", "stringBytesEntropy",
    ) and len(args) == 1:
        # byte-level stats over the UTF-8 image, computed on hex
        # pairs (byte-true on non-ASCII; the byteHammingDistance
        # seam).  Entropy: −Σ (c/n)·log2(c/n) over byte counts —
        # O(n·distinct) row-local lambda work, '' → 0
        pairs = (
            "transform(sequence(0, CAST(length(__sb) / 2 AS INT)), "
            "__i -> IF(__i = 0, '', substr(__sb, __i * 2 - 1, 2)))"
        )
        arr = f"filter({pairs}, __p -> __p != '')"
        if name == "stringBytesUniq":
            body = f"size(array_distinct({arr}))"
        else:
            # no coalesce: the empty-array fold already yields the
            # 0.0 seed, and a NULL input must stay NULL like
            # stringBytesUniq (code-review r11b)
            body = (
                f"aggregate(array_distinct({arr}), "
                "CAST(0 AS DOUBLE), (__ac, __d) -> __ac - "
                f"(size(filter({arr}, __q -> __q = __d)) / "
                f"(length(__sb) / 2)) * "
                f"log2(size(filter({arr}, __q -> __q = __d)) / "
                "(length(__sb) / 2)))"
            )
        return (
            f"element_at(transform(array(hex({args[0]})), "
            f"__sb -> {body}), 1)"
        )
    if name == "visibleWidth" and len(args) == 1:
        # CH's Pretty-format display width ≈ one column per char;
        # char count is the Spark-side truth
        return f"length(CAST({args[0]} AS STRING))"
    if name.startswith("parseReadableSize") and len(args) == 1:
        # inverse of formatReadableSize: number + (KiB|KB|…) unit →
        # bytes, rounded up (CH returns UInt64).  Both the 1024- and
        # 1000-based unit families; OrNull/OrZero fall back on an
        # unrecognized unit, the plain form raises
        unit_pow = (
            "CASE upper(__pu) WHEN 'B' THEN 0.0D "
            "WHEN 'KIB' THEN 1.0D WHEN 'MIB' THEN 2.0D "
            "WHEN 'GIB' THEN 3.0D WHEN 'TIB' THEN 4.0D "
            "WHEN 'PIB' THEN 5.0D WHEN 'EIB' THEN 6.0D END"
        )
        unit_pow10 = (
            "CASE upper(__pu) WHEN 'KB' THEN 3.0D "
            "WHEN 'MB' THEN 6.0D WHEN 'GB' THEN 9.0D "
            "WHEN 'TB' THEN 12.0D WHEN 'PB' THEN 15.0D "
            "WHEN 'EB' THEN 18.0D END"
        )
        num = (
            f"try_cast(regexp_extract({args[0]}, "
            "'^\\\\s*([0-9.]+)\\\\s*([A-Za-z]+)\\\\s*$', 1) AS DOUBLE)"
        )
        val = (
            "element_at(transform(array(regexp_extract("
            f"{args[0]}, '^\\\\s*([0-9.]+)\\\\s*([A-Za-z]+)\\\\s*$', "
            f"2)), __pu -> CASE WHEN {unit_pow} IS NOT NULL THEN "
            f"CAST(ceil({num} * power(1024.0D, {unit_pow})) AS "
            f"BIGINT) WHEN {unit_pow10} IS NOT NULL THEN "
            f"CAST(ceil({num} * power(10.0D, {unit_pow10})) AS "
            "BIGINT) END), 1)"
        )
        if name == "parseReadableSizeOrNull":
            return val
        if name == "parseReadableSizeOrZero":
            return f"coalesce({val}, CAST(0 AS BIGINT))"
        return (
            f"coalesce({val}, raise_error(concat("
            f"'parseReadableSize: unparseable input: ', {args[0]})))"
        )
    if name == "decodeURLFormComponent" and len(args) == 1:
        # the form variant additionally maps '+' to space
        return f"url_decode(replace({args[0]}, '+', ' '))"
    if name in (
        "structureToProtobufSchema", "structureToCapnProtoSchema",
    ):
        raise DialectError(
            f"{name}: wire-schema generation is CH-serializer-"
            "internal — Spark schemas print via df.schema.simpleString"
        )
    # --- r11 audit batch 11: weekday modes, window-view functions,
    #     URL surgery, byte hamming, wide date constructors, tz ---
    if name == "toDayOfWeek" and len(args) in (1, 2):
        # CH modes over Spark's weekday() (Mon=0..Sun=6) /
        # dayofweek() (Sun=1..Sat=7); the 3-arg timezone form refuses
        mode = args[1].strip() if len(args) == 2 else "0"
        spell = {
            "0": f"(weekday({args[0]}) + 1)",
            "1": f"weekday({args[0]})",
            "2": f"(dayofweek({args[0]}) - 1)",
            "3": f"dayofweek({args[0]})",
        }.get(mode)
        if spell is None:
            raise DialectError(
                "toDayOfWeek: mode must be the literal 0-3 "
                "(Mon-first 1-7 / 0-6, Sun-first 0-6 / 1-7)"
            )
        return spell
    if name == "toDayOfWeek":
        raise DialectError(
            "toDayOfWeek: the timezone-argument form is not "
            "transpiled (session time zone is pinned UTC) — convert "
            "explicitly with from_utc_timestamp"
        )
    if name in (
        "tumble", "hop", "tumbleStart", "tumbleEnd", "hopStart",
        "hopEnd",
    ):
        def _ivl(a: str) -> tuple[str, int]:
            m = re.fullmatch(
                r"(?is)\s*INTERVAL\s+(\d+)\s+(\w+)\s*", a
            )
            # no WEEK: CH aligns weekly windows to MONDAY, Spark's
            # window()/epoch arithmetic to the Thursday epoch — a
            # silent bucket shift (code-review r11b)
            secs = {
                "SECOND": 1, "MINUTE": 60, "HOUR": 3600,
                "DAY": 86400,
            }.get(m.group(2).upper(), 0) if m else 0
            if m is None or not secs:
                raise DialectError(
                    f"{name}: the window size must be a literal "
                    "INTERVAL n (SECOND|MINUTE|HOUR|DAY) — Spark's "
                    "time windows take constant fixed-width "
                    "durations, and WEEK would bucket from the epoch "
                    "(Thursday) where ClickHouse aligns to Monday"
                )
            n = int(m.group(1))
            return f"'{n} {m.group(2).lower()}'", n * secs

        if name in ("hopStart", "hopEnd"):
            raise DialectError(
                f"{name}: a row belongs to SEVERAL hopping windows, "
                "so the scalar start/end is ambiguous — GROUP BY "
                "hop(time, slide, size) and read the window struct's "
                ".start/.end"
            )
        want = 2 if name.startswith("tumble") else 3
        if len(args) != want:
            raise DialectError(
                f"{name}: expected "
                f"({'time, size' if want == 2 else 'time, slide, size'})"
                " — the timezone form is not transpiled"
            )
        if name == "tumble":
            return f"window({args[0]}, {_ivl(args[1])[0]})"
        if name in ("tumbleStart", "tumbleEnd"):
            # arithmetic truncation, NOT window(): Spark allows only
            # one TimeWindow expression per projection, so start/end
            # must not consume it.  pmod (always non-negative), not
            # div: div truncates toward zero, which buckets pre-1970
            # timestamps one window late (code-review r11b)
            _, s = _ivl(args[1])
            base_s = (
                f"(unix_timestamp({args[0]}) - "
                f"pmod(unix_timestamp({args[0]}), {s}))"
            )
            if name == "tumbleEnd":
                return f"timestamp_seconds({base_s} + {s})"
            return f"timestamp_seconds({base_s})"
        # CH hop(time, hop_interval, window_interval) ↔ Spark
        # window(time, windowDuration, slideDuration)
        return (
            f"window({args[0]}, {_ivl(args[2])[0]}, {_ivl(args[1])[0]})"
        )
    if name == "cutURLParameter" and len(args) == 2:
        u, p = args
        if p.strip()[:1] not in "'\"":
            raise DialectError(
                "cutURLParameter: the parameter name must be a "
                "literal (it is regex-escaped at transpile time)"
            )
        pn = re.escape(p.strip()[1:-1]).replace("\\", "\\\\")
        # drop 'name=value' (or bare 'name') plus ONE separator, then
        # tidy a dangling '?'/'&' — but ONLY when a removal actually
        # happened: an input that already ends '…?' must come back
        # unchanged like CH (code-review r11b)
        cut = (
            f"regexp_replace(__cu, "
            f"'([?&]){pn}(=[^&#]*)?(&|(?=#)|$)', '$1')"
        )
        return (
            f"element_at(transform(array({u}), __cu -> "
            f"CASE WHEN {cut} = __cu THEN __cu "
            f"ELSE regexp_replace({cut}, '[?&](#|$)', '$1') END), 1)"
        )
    if name == "byteHammingDistance" and len(args) == 2:
        # positional byte mismatches over the shorter image plus the
        # length difference — computed on hex pairs, so it is
        # BYTE-true on non-ASCII too (Spark substr is char-based)
        a, b = args
        return (
            "element_at(transform("
            f"array(struct(hex({a}) AS h1, hex({b}) AS h2)), __bh -> "
            "aggregate(sequence(0, CAST(least(length(__bh.h1), "
            "length(__bh.h2)) / 2 AS INT)), "
            "CAST(abs(length(__bh.h1) - length(__bh.h2)) / 2 AS "
            "BIGINT), (__acc, __i) -> __acc + IF(__i = 0 OR "
            "substr(__bh.h1, __i * 2 - 1, 2) = "
            "substr(__bh.h2, __i * 2 - 1, 2), 0, 1))), 1)"
        )
    if name == "makeDate32" and len(args) == 3:
        return f"make_date({joined})"
    if name == "makeDateTime64" and len(args) == 6:
        return f"make_timestamp({joined})"
    if name == "makeDateTime64" and len(args) == 7:
        # 7th arg: fraction in units of 10^-precision (default 3, ms)
        y, mo, d, h, mi, s, fr = args
        return (
            f"make_timestamp({y}, {mo}, {d}, {h}, {mi}, "
            f"({s}) + ({fr}) / 1000.0)"
        )
    if name == "makeDateTime64":
        raise DialectError(
            "makeDateTime64: the precision/timezone forms are not "
            "transpiled — Spark timestamps are fixed micro-precision "
            "in the session zone; scale the fraction yourself"
        )
    if name in ("timeZone", "timezone", "serverTimeZone",
                "serverTimezone") and not args:
        return "current_timezone()"
    if name == "timeZoneOf" and len(args) == 1:
        # every Spark timestamp renders in the session zone — that IS
        # the value's zone in this engine
        return "current_timezone()"
    if name in ("toTimeZone", "toTimezone"):
        raise DialectError(
            f"{name}: ClickHouse re-labels the DISPLAY zone without "
            "moving the instant; Spark has no per-value time zone, "
            "and from_utc_timestamp MOVES the instant — a silent "
            "epoch divergence. Render in another zone explicitly "
            "with date_format + from_utc_timestamp at the edge"
        )
    if name == "toStringCutToZero" and len(args) == 1:
        return f"substring_index({args[0]}, chr(0), 1)"
    if name == "toColumnTypeName" and len(args) == 1:
        # role parity with toTypeName (CH shows the internal column
        # representation; typeof is the Spark-side truth either way)
        return f"typeof({args[0]})"
    if name in ("simpleJSONHas", "visitParamHas"):
        # simpleJSON*/visitParam* are CH's RAW-TEXT scanners: they
        # find '"key":' at ANY nesting depth (that is the documented
        # fast-path contract), so the faithful spelling is a regex
        # scan, not a get_json_object root path (code-review r10b —
        # the path form missed nested keys and split dotted keys)
        if len(args) == 2 and args[1][:1] in "'\"":
            import re as _re

            key = _re.escape(args[1][1:-1]).replace("\\", "\\\\")
            return (
                f"regexp_like({args[0]}, "
                f"'\"{key}\"\\\\s*:')"
            )
        raise DialectError(
            f"{name} needs a literal key (the raw-text scan pattern "
            "is built at transpile time); use get_json_object for "
            "dynamic paths"
        )
    if name == "bar" and len(args) == 4:
        x, mn, mx, w = args
        # ClickHouse renders eighth-block resolution: full blocks +
        # one partial from ▏▎▍▌▋▊▉
        u = (
            f"greatest(least(({x} - ({mn})) / (({mx}) - ({mn})) "
            f"* ({w}), CAST({w} AS DOUBLE)), CAST(0 AS DOUBLE))"
        )
        return (
            f"element_at(transform(array({u}), __u -> concat("
            f"repeat('█', CAST(floor(__u) AS INT)), "
            f"element_at(array('', '▏', '▎', '▍', '▌', '▋', '▊', "
            f"'▉', '█'), CAST(round((__u - floor(__u)) * 8) AS INT) "
            f"+ 1))), 1)"
        )
    # --- dictionaries (r7): dictGet* → correlated scalar subquery ---
    if name in (
        "dictGet", "dictGetOrDefault", "dictGetOrNull", "dictHas",
        "dictGetString", "dictGetUInt64", "dictGetInt64",
        "dictGetUInt32", "dictGetInt32", "dictGetFloat64",
        "dictGetDate", "dictGetDateTime",
    ):
        from clickhouse_vs_dbt_spark.ddl import lookup_dict_info

        if not args or not args[0].strip().startswith("'"):
            raise DialectError(
                f"{name}: the dictionary name must be a string literal"
            )
        dname = args[0].strip()[1:-1]
        info = lookup_dict_info(dname)
        if info is None:
            raise DialectError(
                f"dictionary {dname!r} is not registered — run its "
                "CREATE DICTIONARY through run_clickhouse_script "
                "first"
            )
        if name == "dictHas":
            if len(args) != 2:
                raise DialectError("dictHas('dict', key)")
            return (
                f"((SELECT count(1) FROM {info.source} "
                f"WHERE `{info.key}` = ({args[1]})) > 0)"
            )
        if len(args) < 3 or not args[1].strip().startswith("'"):
            raise DialectError(
                f"{name}('dict', 'attr', key[, default])"
            )
        attr = args[1].strip()[1:-1]
        if attr not in info.attrs:
            raise DialectError(
                f"dictionary {dname!r} has no attribute {attr!r} "
                f"(attributes: {sorted(info.attrs)})"
            )
        # max() over the unique key's single row keeps the subquery
        # in the aggregated-decorrelatable class; Catalyst rewrites
        # it into a (broadcast) left outer join on the key — the
        # dimension-lookup plan.  Missing keys yield NULL where
        # ClickHouse returns the attribute type's default — use
        # dictGetOrDefault for an explicit miss value.
        sub = (
            f"(SELECT max(`{attr}`) FROM {info.source} "
            f"WHERE `{info.key}` = ({args[2]}))"
        )
        cast = {
            "dictGetString": "STRING", "dictGetUInt64": "BIGINT",
            "dictGetInt64": "BIGINT", "dictGetUInt32": "BIGINT",
            "dictGetInt32": "INT", "dictGetFloat64": "DOUBLE",
            "dictGetDate": "DATE", "dictGetDateTime": "TIMESTAMP",
        }.get(name)
        if cast:
            sub = f"CAST({sub} AS {cast})"
        if name == "dictGetOrDefault" and len(args) == 4:
            return f"coalesce({sub}, {args[3]})"
        return sub
    # --- r7 probe batch 6: interval/map/misc migrant scalars ---
    # r16 audit batch 33 widens the register: the 3-arg ORIGIN form
    # (CH 24.x) previously fell through as a LEAK; month-class
    # INTERVAL n > 1 refused.  Second-class origins map with exact
    # pmod arithmetic (pmod, not div — pre-origin timestamps floor
    # down like CH, never toward zero); month-class n > 1 aligns in
    # exact integer months since 1970-01 (add_months from the epoch,
    # DATE result — CH's month-class result type); month-class WITH
    # an origin refuses (CH steps calendar months from the origin's
    # own day-of-month — Spark's months_between is 31-day-convention
    # fractional, not that contract).
    if name == "toStartOfInterval" and len(args) in (2, 3):
        im = re.match(
            r"(?is)\s*INTERVAL\s+(\d+)\s+(\w+)\s*$", args[1]
        )
        if im:
            n, unit = int(im.group(1)), im.group(2).upper()
            t = args[0]
            secs = {"SECOND": 1, "MINUTE": 60, "HOUR": 3600,
                    "DAY": 86400}.get(unit)
            if len(args) == 3:
                if secs is None:
                    raise DialectError(
                        "toStartOfInterval with origin maps for "
                        "second-class units (SECOND/MINUTE/HOUR/DAY)"
                        " — month-class units step calendar months "
                        "from the origin's own day-of-month; spell "
                        "with add_months arithmetic explicitly"
                    )
                w = n * secs
                return (
                    f"element_at(transform(array(named_struct("
                    f"'t', unix_timestamp({t}), "
                    f"'o', unix_timestamp({args[2]}))), __si -> "
                    f"timestamp_seconds(__si.t "
                    f"- pmod(__si.t - __si.o, {w}))), 1)"
                )
            if secs is not None:
                w = n * secs
                if w == 86400:
                    return f"date_trunc('day', {t})"
                return (
                    f"timestamp_seconds(unix_timestamp({t}) "
                    f"div {w} * {w})"
                )
            if n == 1 and unit in (
                "WEEK", "MONTH", "QUARTER", "YEAR",
            ):
                return f"date_trunc('{unit.lower()}', {t})"
            months = {"MONTH": 1, "QUARTER": 3, "YEAR": 12}.get(unit)
            if months is not None:
                m = n * months
                return (
                    f"element_at(transform(array("
                    f"(year({t}) - 1970) * 12 + month({t}) - 1), "
                    f"__mo -> add_months(DATE'1970-01-01', "
                    f"__mo - pmod(__mo, {m}))), 1)"
                )
        raise DialectError(
            "toStartOfInterval: INTERVAL n SECOND/MINUTE/HOUR/DAY/"
            "MONTH/QUARTER/YEAR or INTERVAL 1 WEEK, optionally with "
            "a second-class origin"
        )
    if name == "toStartOfInterval":
        raise DialectError(
            "toStartOfInterval takes 2 or 3 arguments"
        )
    if name == "stringCompare" and len(args) == 2:
        # CH 25.1 three-way comparison.  Spark's UTF8String
        # comparison is BYTE-wise (UTF-8 storage), the same order CH
        # compares in — no collation detour.  NULL in either operand
        # propagates (CH Nullable contract).
        return (
            f"element_at(transform(array(named_struct("
            f"'a', {args[0]}, 'b', {args[1]})), __sc -> "
            f"CASE WHEN __sc.a IS NULL OR __sc.b IS NULL "
            f"THEN CAST(NULL AS INT) "
            f"WHEN __sc.a = __sc.b THEN 0 "
            f"WHEN __sc.a < __sc.b THEN -1 ELSE 1 END), 1)"
        )
    if name == "stringCompare":
        raise DialectError(
            "stringCompare maps in its 2-argument form; the "
            "5-argument (offset, length) form's byte offsets have no "
            "char-addressed Spark twin — spell the slice with "
            "substring() explicitly and compare the pieces"
        )
    if name in ("searchAny", "searchAll"):
        raise DialectError(
            f"{name} queries a TEXT INDEX (CH 25.x experimental "
            "full-text index; results depend on the index's "
            "tokenizer) — hasAnyTokens/hasAllTokens cover the "
            "token-match semantics without an index"
        )
    if name.startswith("numericIndexedVector"):
        raise DialectError(
            "numericIndexedVector* operates on CH's bit-sliced-index "
            "vector STATE (25.x experimental) — keyed map/array "
            "algebra (sumMap, mapAdd, zip_with) covers the pointwise "
            "operations"
        )
    if name == "estimateCompressionRatio":
        raise DialectError(
            "estimateCompressionRatio samples the server codec "
            "pipeline — compression is a storage property here "
            "(parquet codec config), not an expression"
        )
    if name.startswith("toInterval") and len(args) == 1:
        # ANSI interval constructors (make_ym_interval /
        # make_dt_interval), NOT make_interval: Spark's legacy
        # CalendarIntervalType cannot be collected through PySpark
        # (CalendarIntervalType.fromInternal is unimplemented), while
        # the ANSI year-month/day-time types both collect and add to
        # timestamps (audit batch 17)
        unit = name[len("toInterval"):]
        if unit == "Year":
            return f"make_ym_interval({args[0]}, 0)"
        if unit == "Quarter":
            return f"make_ym_interval(0, ({args[0]}) * 3)"
        if unit == "Month":
            return f"make_ym_interval(0, {args[0]})"
        if unit in ("Week", "Day"):
            # day-PRECISION cast: DATE + INTERVAL DAY stays DATE
            # (the full DAY TO SECOND type would promote to
            # TIMESTAMP, unlike CH's Date + day-interval)
            d = (
                f"({args[0]}) * 7" if unit == "Week" else args[0]
            )
            return (
                f"CAST(make_dt_interval({d}, 0, 0, 0) "
                f"AS INTERVAL DAY)"
            )
        dt = {
            "Hour": f"0, {args[0]}, 0, 0",
            "Minute": f"0, 0, {args[0]}, 0",
            "Second": f"0, 0, 0, {args[0]}",
            "Millisecond": f"0, 0, 0, ({args[0]}) / 1000.0",
            "Microsecond": f"0, 0, 0, ({args[0]}) / 1000000.0",
            "Nanosecond": f"0, 0, 0, ({args[0]}) / 1000000000.0",
        }.get(unit)
        if dt is not None:
            return f"make_dt_interval({dt})"
    if name == "mapFromArrays" and len(args) == 2:
        return f"map_from_arrays({args[0]}, {args[1]})"
    if name == "mapFilter" and len(args) == 2:
        # lambda-first → map-first rotation (the array HOF policy)
        return f"map_filter({args[1]}, {args[0]})"
    if name == "mapUpdate" and len(args) == 2:
        # b's keys overwrite a's — Spark's map_concat refuses
        # duplicate keys, so build from filtered entries
        a, b = args
        return (
            f"map_from_entries(concat(filter(map_entries({a}), "
            f"__e -> NOT array_contains(map_keys({b}), __e.key)), "
            f"map_entries({b})))"
        )
    if name == "mapContainsKeyLike" and len(args) == 2:
        return (
            f"exists(map_keys({args[0]}), __k -> __k LIKE {args[1]})"
        )
    if name == "JSONExtractRaw" and len(args) >= 2:
        path = "$." + ".".join(a.strip().strip("'") for a in args[1:])
        return f"get_json_object({args[0]}, '{path}')"
    if name == "toBool" and len(args) == 1:
        return f"CAST({args[0]} AS BOOLEAN)"
    if name in (
        "toInt128", "toInt256", "toUInt128", "toUInt256",
    ) and len(args) == 1:
        # documented narrowing: DECIMAL(38,0) is the widest exact
        # integer Spark carries
        return f"CAST({args[0]} AS DECIMAL(38, 0))"
    if name == "currentDatabase" and not args:
        return "current_database()"
    if name == "currentUser" and not args:
        return "current_user()"
    if name == "timezone" and not args:
        return "current_timezone()"
    if name in ("addHours", "addMinutes", "addSeconds", "addWeeks",
                "addQuarters", "subtractHours", "subtractMinutes",
                "subtractSeconds", "subtractWeeks",
                "subtractQuarters") and len(args) == 2:
        unit = name.removeprefix("add").removeprefix("subtract")
        unit = {"Hours": "HOUR", "Minutes": "MINUTE",
                "Seconds": "SECOND", "Weeks": "WEEK",
                "Quarters": "QUARTER"}[unit]
        n = args[1] if name.startswith("add") else f"-({args[1]})"
        return f"timestampadd({unit}, {n}, {args[0]})"
    if name in ("timestampAdd", "timestampSub", "dateAdd", "dateSub",
                "addDate", "subDate") \
            and len(args) == 2 \
            and re.match(r"(?i)^\s*INTERVAL\b", args[1] or ""):
        # the (ts, INTERVAL n unit) 2-arg spelling (the 3-arg unit
        # forms map elsewhere) — native interval arithmetic
        op = "-" if name in ("timestampSub", "dateSub", "subDate") \
            else "+"
        return f"({args[0]} {op} {args[1]})"
    if name in (
        "tuplePlus", "tupleMinus", "tupleMultiply", "tupleDivide",
        "tupleIntDiv", "tupleModulo", "tupleNegate",
        "tupleMultiplyByNumber", "tupleDivideByNumber",
        "tupleIntDivByNumber", "tupleIntDivOrZeroByNumber",
        "tupleModuloByNumber", "tupleConcat",
        "tupleHammingDistance",
    ):
        # Numeric tuple arithmetic (VERDICT r10 item 5, flips the
        # batch-6 refusal for LITERAL-arity tuples): when every tuple
        # operand is spelled inline — ``(a, b)`` or ``tuple(a, b)`` —
        # the arity is known at transpile time and the operation
        # expands to per-field struct arithmetic.  Column-reference
        # tuples (unknown arity) keep the spell-as-arrays refusal.
        one_arg = name == "tupleNegate"
        by_number = name in (
            "tupleMultiplyByNumber", "tupleDivideByNumber",
            "tupleIntDivByNumber", "tupleIntDivOrZeroByNumber",
            "tupleModuloByNumber",
        )
        if name == "tupleConcat":
            # n-ary: every operand must be a literal tuple (any arity)
            fields = [_tuple_fields(a) for a in args]
            if args and all(f is not None for f in fields):
                flat = [x for f in fields for x in f]
                return f"struct({', '.join(flat)})"
        n_tuples = 1 if (one_arg or by_number) else 2
        fields = [_tuple_fields(a) for a in args[:n_tuples]]
        if (
            name != "tupleConcat"
            and len(args) == (1 if one_arg else 2)
            and all(f is not None for f in fields)
            and len({len(f) for f in fields}) == 1
        ):
            fa = fields[0]
            if name == "tupleNegate":
                body = [f"(-({x}))" for x in fa]
            elif name == "tupleIntDivOrZeroByNumber":
                # the intDivOrZero guard per field (batch 18)
                body = [
                    f"(CASE WHEN ({args[1]}) = 0 THEN 0 "
                    f"ELSE ({x}) DIV ({args[1]}) END)"
                    for x in fa
                ]
            elif by_number:
                op = {
                    "tupleMultiplyByNumber": "*",
                    "tupleDivideByNumber": "/",
                    "tupleIntDivByNumber": "DIV",
                    "tupleModuloByNumber": "%",
                }[name]
                body = [f"(({x}) {op} ({args[1]}))" for x in fa]
            elif name == "tupleHammingDistance":
                # plain != so a NULL component propagates NULL
                # through the sum — CH's Nullable-element equality
                # returns NULL, not 0/1 (ADVICE r11; the earlier
                # null-safe <=> counted NULL-vs-value as 1)
                return "(" + " + ".join(
                    f"CAST((({x}) != ({y})) AS INT)"
                    for x, y in zip(fa, fields[1])
                ) + ")"
            else:
                op = {
                    "tuplePlus": "+", "tupleMinus": "-",
                    "tupleMultiply": "*", "tupleDivide": "/",
                    "tupleIntDiv": "DIV", "tupleModulo": "%",
                }[name]
                body = [
                    f"(({x}) {op} ({y}))"
                    for x, y in zip(fa, fields[1])
                ]
            return f"struct({', '.join(body)})"
        if (
            not one_arg and not by_number and len(args) == 2
            and None not in fields
        ):
            raise DialectError(
                f"{name}: tuple operands have different arities "
                f"({len(fields[0])} vs {len(fields[1])})"
            )
        raise DialectError(
            f"{name}: tuple vector arithmetic transpiles for LITERAL "
            "tuples — (a, b) or tuple(a, b) — whose arity is known at "
            "transpile time (r11); for column tuples spell the "
            "vectors as ARRAYS: zip_with arithmetic, arrayDotProduct, "
            "L1/L2Distance and bitHammingDistance all transpile"
        )
    if name == "char" and len(args) >= 2:
        # CH char() assembles raw BYTES (mod 256), not codepoints —
        # multi-arg char is how CH builds multibyte UTF-8 (char(208,
        # 176) = the two bytes D0 B0 = 'а'), so Spark's
        # codepoint-based char() would silently produce different
        # text for any byte >= 128 (code-review r10b).  Assemble via
        # hex → unhex → UTF-8 decode; byte runs that are not valid
        # UTF-8 surface replacement chars (the JVM string seam, CH
        # returns the raw bytes).  The 1-arg form passes through to
        # Spark's native char: identical for ASCII, and the
        # single-byte >= 128 case is not meaningful UTF-8 either way
        hexes = ", ".join(
            f"lpad(hex(CAST(pmod({a}, 256) AS BIGINT)), 2, '0')"
            for a in args
        )
        return f"decode(unhex(concat({hexes})), 'UTF-8')"
    if name == "toLastDayOfWeek" and len(args) == 1:
        d = args[0]
        # Sunday-start week (ClickHouse default mode) ends Saturday
        return f"CAST(date_add({d}, 7 - dayofweek({d})) AS DATE)"
    if name == "toStartOfISOYear" and len(args) == 1:
        # Monday of ISO week 1 = the week containing Jan 4 of the
        # ISO year (batch 23); extract(YEAROFWEEK) is Spark's ISO
        # week-year
        return (
            f"CAST(date_trunc('week', make_date("
            f"extract(YEAROFWEEK FROM {args[0]}), 1, 4)) AS DATE)"
        )
    if name == "toDaysSinceYearZero" and len(args) == 1:
        return f"(datediff({args[0]}, DATE'1970-01-01') + 719528)"
    if name in (
        "fromDaysSinceYearZero", "fromDaysSinceYearZero32",
    ) and len(args) == 1:
        return f"date_add(DATE'1970-01-01', ({args[0]}) - 719528)"
    if name == "fromModifiedJulianDate" and len(args) == 1:
        # MJD epoch 1858-11-17 (wave 3); CH restricts to the Date32
        # window [1900-01-01, 2299-12-31] = MJD [15020, 161116] and
        # THROWS outside it — the plain form here computes the date
        # anyway (graceful widening, documented), OrNull answers
        # NULL exactly on CH's window
        return f"date_add(DATE'1858-11-17', {args[0]})"
    if name == "fromModifiedJulianDateOrNull" and len(args) == 1:
        n = args[0]
        return (
            f"(CASE WHEN ({n}) BETWEEN 15020 AND 161116 "
            f"THEN date_add(DATE'1858-11-17', {n}) END)"
        )
    if name == "moduloOrZero" and len(args) == 2:
        return f"IF(({args[1]}) = 0, 0, ({args[0]}) % ({args[1]}))"
    if name == "max2" and len(args) == 2:
        # delegate to the greatest REGISTER: CH NULL-propagates
        # where Spark's raw greatest() skips NULL args (r15b — the
        # least/greatest registers wrap for exactly this)
        return _render_call("greatest", args)
    if name == "min2" and len(args) == 2:
        return _render_call("least", args)
    if name == "clamp" and len(args) == 3:
        return _render_call(
            "least",
            [f"({_render_call('greatest', [args[0], args[1]])})",
             args[2]],
        )
    # ---- r13 audit batch 18 ---------------------------------------
    if name == "mapContainsValue" and len(args) == 2:
        # coalesce: array_contains NULL-propagates on a miss over
        # NULL-valued entries where CH answers 0 (code-review r13e)
        return (
            f"coalesce(array_contains(map_values({args[0]}), "
            f"{args[1]}), false)"
        )
    if name in (
        "mapPartialSort", "mapPartialReverseSort",
    ) and len(args) == 2:
        # CH: positions past the limit are in UNSPECIFIED order, so
        # the full sort satisfies the contract (the arrayPartialSort
        # precedent); the key-lambda 3-arg form keeps the mapSort
        # pointer refusal
        return _render_call(
            "mapSort" if name == "mapPartialSort"
            else "mapReverseSort", [args[1]],
        )
    if name == "extractKeyValuePairs" and len(args) == 4:
        raise DialectError(
            "extractKeyValuePairs: the quoting-character form has no "
            "str_to_map analog — pre-strip the quotes or parse with "
            "a regexp_extract_all pipeline"
        )
    if name == "extractKeyValuePairs" and 1 <= len(args) <= 3:
        # str_to_map twin.  Delimiter args must be literal strings of
        # regex-safe characters (they become Java-regex classes);
        # CH's default pair delimiters are ',', ';' and space, the
        # default kv delimiter ':'.  The quoting-character 4-arg form
        # refuses: str_to_map has no quote handling.
        kv = args[1] if len(args) > 1 else "':'"
        pd_ = args[2] if len(args) > 2 else "', ;'"
        for d in (kv, pd_):
            if not (d.startswith("'") and d.endswith("'")):
                raise DialectError(
                    "extractKeyValuePairs: delimiters must be string "
                    "literals"
                )
            if not all(
                c.isalnum() or c in ", ;:|#&=@/ " for c in d[1:-1]
            ):
                raise DialectError(
                    "extractKeyValuePairs: delimiter characters "
                    "outside [a-z0-9 ,;:|#&=@/] need regex escaping "
                    "— use str_to_map directly"
                )
        # FIRST-win duplicate-key dedup in the fold (ADVICE r13):
        # str_to_map throws at runtime on duplicate keys under
        # Spark's default spark.sql.mapKeyDedupPolicy=EXCEPTION,
        # while ClickHouse's Map physically keeps every pair and
        # map[key] lookup answers the FIRST — the fold below keeps
        # the first pair per key.  O(pairs²) via map_keys scan, but
        # pairs-per-row is input-text-bounded, not data-scale.
        pair_re, kv_re = f"'[{pd_[1:-1]}]+'", f"'[{kv[1:-1]}]'"
        key_of = f"get(split(__kvp, {kv_re}, 2), 0)"
        val_of = f"get(split(__kvp, {kv_re}, 2), 1)"
        return (
            f"aggregate(split({args[0]}, {pair_re}), "
            "CAST(map() AS MAP<STRING,STRING>), "
            "(__kvm, __kvp) -> IF("
            f"array_contains(map_keys(__kvm), {key_of}), __kvm, "
            f"map_concat(__kvm, map({key_of}, {val_of}))))"
        )
    if name == "appendTrailingCharIfAbsent" and len(args) == 2:
        a, c = args
        return (
            f"(CASE WHEN ({a}) IS NULL OR ({c}) IS NULL THEN NULL "
            f"WHEN endswith({a}, {c}) THEN ({a}) "
            f"ELSE concat({a}, {c}) END)"
        )
    if name == "basename" and len(args) == 1:
        # after the last '/' or '\' (CH file-path semantics)
        return f"regexp_extract({args[0]}, '([^/\\\\\\\\]*)$', 1)"
    if name == "byteSlice" and len(args) == 3:
        # byte-wise substring: Spark substring over BINARY is
        # byte-addressed; a slice through a multibyte boundary
        # decodes with replacement chars where CH returns the raw
        # bytes (MIGRATION.md)
        return (
            f"decode(substring(encode({args[0]}, 'UTF-8'), "
            f"{args[1]}, {args[2]}), 'UTF-8')"
        )
    if name in ("bitmaskToArray", "bitmaskToList") and len(args) == 1:
        # bits 0..62 cover every non-negative Int64; a negative input
        # means a CH UInt64 mask >= 2^63, beyond the engine's Int64
        # width — raise rather than silently dropping the top bit
        # (code-review r13e)
        n = args[0]
        arr = (
            f"filter(transform(sequence(0, 62), __i -> "
            f"shiftleft(CAST(1 AS BIGINT), __i)), "
            f"__p -> (CAST({n} AS BIGINT) & __p) != 0)"
        )
        arr = (
            f"(CASE WHEN CAST({n} AS BIGINT) < 0 THEN "
            f"raise_error('{name}: UInt64 masks above 2^63-1 are "
            f"beyond the engine Int64 width') ELSE {arr} END)"
        )
        if name == "bitmaskToList":
            return (
                f"array_join(transform({arr}, "
                f"__p -> CAST(__p AS STRING)), ',')"
            )
        return arr
    if name == "roundDown" and len(args) == 2:
        # largest boundary <= x, else the lowest boundary (CH rule)
        x, arr = args
        return (
            f"(CASE WHEN ({x}) IS NULL THEN NULL ELSE "
            f"coalesce(array_max(filter({arr}, "
            f"__e -> __e <= ({x}))), array_min({arr})) END)"
        )
    if name == "arrayPartialShuffle" and len(args) in (1, 2, 3):
        # partial Fisher-Yates: the first `limit` positions are
        # uniformly random and the tail order is UNSPECIFIED (CH
        # docs), so the full shuffle / seeded permutation satisfies
        # both halves — delegate with the limit dropped
        if len(args) == 3:
            return _render_call("arrayShuffle", [args[0], args[2]])
        return _render_call("arrayShuffle", [args[0]])
    if name == "reinterpret" and len(args) == 2 \
            and args[1].startswith("'") and args[1].endswith("'"):
        # generic form dispatches to the fixed-width reinterpretAs*
        # register by its literal type name
        return _render_call(
            "reinterpretAs" + args[1][1:-1].strip(), [args[0]],
        )
    if name == "isNullable" and len(args) == 1:
        # static type introspection: every parquet-read column is
        # nullable in Spark, so a column-bearing expression answers
        # 1 and a non-NULL constant answers 0 (the shared
        # _has_column_ident detection — the args here are RENDERED
        # Spark SQL, so cast type names must not read as columns;
        # code-review r13e).  Limit of the refinement: toNullable()
        # is identity in this engine, so isNullable(toNullable(1))
        # answers 0 where CH answers 1 — nullability here is a
        # storage-model property, not a wrapper type (MIGRATION.md)
        has_null = any(
            _is_ident(t) and t.upper() == "NULL"
            for t in _tokens(args[0])
        )
        return "1" if (has_null or _has_column_ident(args[0])) else "0"
    if name in (
        "parseDateTimeBestEffortUS",
        "parseDateTimeBestEffortUSOrNull",
        "parseDateTimeBestEffortUSOrZero",
    ) and len(args) == 1:
        # month-first tier of the BestEffort family
        x = args[0]
        best = (
            f"coalesce(try_to_timestamp({x}, 'M/d/yyyy H:mm:ss'), "
            f"try_to_timestamp({x}, 'M/d/yyyy H:mm'), "
            f"try_to_timestamp({x}, 'M/d/yyyy'), "
            f"try_to_timestamp({x}, 'M-d-yyyy H:mm:ss'), "
            f"try_to_timestamp({x}, 'M-d-yyyy H:mm'), "
            f"try_to_timestamp({x}, 'M-d-yyyy'), "
            f"TRY_CAST({x} AS TIMESTAMP))"
        )
        if name.endswith("OrZero"):
            # CH's Or-Zero contract: the type's default (epoch)
            return (
                f"coalesce({best}, TIMESTAMP'1970-01-01 00:00:00')"
            )
        return best
    if name == "erfInv" and len(args) == 1:
        return f"ch_erfinv({args[0]})"
    if name == "isDecimalOverflow":
        raise DialectError(
            "isDecimalOverflow inspects a value against its Decimal "
            "type's precision — Spark CASTs already NULL/raise on "
            "overflow; compare against the precision bound "
            "explicitly (abs(x) >= 10^p)"
        )
    # ---- end batch 18 ----------------------------------------------
    if name == "arrayShuffle" and len(args) == 1:
        return f"shuffle({args[0]})"
    if name == "arrayRandomSample" and len(args) == 2:
        return f"slice(shuffle({args[0]}), 1, CAST({args[1]} AS INT))"
    if name == "randNormal" and len(args) == 2:
        return f"(({args[0]}) + ({args[1]}) * randn())"
    if name == "randUniform" and len(args) == 2:
        return f"(({args[0]}) + rand() * (({args[1]}) - ({args[0]})))"
    if name == "randBernoulli" and len(args) == 1:
        return f"CAST(IF(rand() < ({args[0]}), 1, 0) AS INT)"
    if name == "randExponential" and len(args) == 1:
        return f"(-ln(rand()) / ({args[0]}))"
    # ---- r13 audit batch 17: the remaining rand* distributions ----
    # exact transforms/folds over rand()/randn() — Spark evaluates
    # nondeterministic expressions per lambda invocation, so each
    # sequence step draws fresh (verified; the folds are O(param)
    # per row, the same cost class as CH's per-row samplers)
    if name == "randLogNormal" and len(args) == 2:
        return f"exp(({args[0]}) + ({args[1]}) * randn())"
    if name == "randChiSquared" and len(args) == 1:
        # k < 1 guard: Spark's sequence(1, 0) DESCENDS to [1, 0]
        # (two draws instead of none — code-review r13a, the
        # randomPrintableASCII precedent)
        return (
            f"(CASE WHEN CAST({args[0]} AS INT) < 1 "
            f"THEN CAST(0.0 AS DOUBLE) ELSE "
            f"aggregate(sequence(1, CAST({args[0]} AS INT)), "
            f"CAST(0.0 AS DOUBLE), "
            f"(__ra, __ri) -> __ra + pow(randn(), 2.0d)) END)"
        )
    if name == "randStudentT" and len(args) == 1:
        k = args[0]
        chi = _render_call("randChiSquared", [k])
        return f"(randn() / sqrt({chi} / ({k})))"
    if name == "randFisherF" and len(args) == 2:
        d1, d2 = args
        c1 = _render_call("randChiSquared", [d1])
        c2 = _render_call("randChiSquared", [d2])
        return f"((({c1}) / ({d1})) / (({c2}) / ({d2})))"
    if name == "randBinomial" and len(args) == 2:
        # n < 1 guard: same sequence(1, 0) descending-ramp hazard
        n, p = args
        return (
            f"(CASE WHEN CAST({n} AS INT) < 1 "
            f"THEN CAST(0 AS BIGINT) ELSE "
            f"aggregate(sequence(1, CAST({n} AS INT)), "
            f"CAST(0 AS BIGINT), "
            f"(__ra, __ri) -> __ra + IF(rand() < ({p}), 1, 0)) END)"
        )
    if name == "randNegativeBinomial" and len(args) == 2:
        raise DialectError(
            "randNegativeBinomial: unbounded trial count has no "
            "fixed-iteration fold — compose randPoisson over a "
            "gamma-mixed rate, or sample via randUniform inverse-CDF"
        )
    if name == "randPoisson" and len(args) == 1:
        # Knuth's product-of-uniforms sampler as a fixed-iteration
        # fold: k = #{m : Π U_i ≥ e^-λ} — the product is monotone
        # decreasing, so the count freezes itself after the crossing.
        # λ must be a transpile-time literal to size the fold
        # (λ + 12√λ + 30 iterations covers the tail to ~1e-28).
        lam_txt = args[0].strip()
        if not re.fullmatch(r"\d+(\.\d+)?", lam_txt):
            raise DialectError(
                "randPoisson needs a LITERAL rate to size its "
                "fixed-iteration fold — for expression rates use "
                "the normal approximation: randNormal(l, sqrt(l))"
            )
        import math as _math

        lam = float(lam_txt)
        if lam > 700:
            # exp(-λ) underflows to 0.0 past ~746, which would make
            # the fold's threshold vacuous and the result a CONSTANT
            # (code-review r13a) — and the fold is O(λ) anyway
            raise DialectError(
                "randPoisson rate > 700: exp(-rate) underflows the "
                "double threshold — use the normal approximation "
                "randNormal(l, sqrt(l)) (relative skew < 2%% there)"
            )
        iters = int(_math.ceil(lam + 12 * _math.sqrt(lam) + 30))
        big_l = repr(_math.exp(-lam))
        return (
            f"aggregate(sequence(1, {iters}), "
            f"named_struct('p', CAST(1.0 AS DOUBLE), "
            f"'k', CAST(0 AS BIGINT)), "
            f"(__rs, __ri) -> element_at(transform("
            f"array(__rs.p * rand()), "
            f"__p2 -> named_struct('p', __p2, "
            f"'k', __rs.k + IF(__p2 >= {big_l}d, 1, 0))), 1), "
            f"__rs -> __rs.k)"
        )
    if name == "positiveModulo" and len(args) == 2:
        return f"pmod({args[0]}, {args[1]})"
    if name == "toDecimalString" and len(args) == 2:
        return (
            f"format_string(concat('%.', CAST({args[1]} AS STRING), "
            f"'f'), CAST({args[0]} AS DOUBLE))"
        )
    if name == "toValidUTF8" and len(args) == 1:
        # JVM strings are already valid UTF-8 by construction
        return args[0]
    if name == "tokens" and len(args) in (1, 2, 3):
        mode = (
            args[1].strip().strip("'\"").lower()
            if len(args) > 1 else "default"
        )
        if mode in ("default", "splitbynonalpha"):
            return (
                f"filter(split({args[0]}, '[^a-zA-Z0-9]+'), "
                f"__t -> __t != '')"
            )
        if mode == "ngram" and len(args) in (2, 3):
            if len(args) == 2:
                args = [args[0], args[1], "3"]  # CH default N
            # sliding character n-grams (batch 22); shorter-than-N
            # input yields an empty array like CH
            a, n = args[0], args[2]
            # explicit empty guard: sequence(1, 0) runs DESCENDING
            # in Spark, which duplicated the input for short strings
            return (
                f"(CASE WHEN length({a}) < ({n}) THEN "
                f"CAST(array() AS ARRAY<STRING>) ELSE "
                f"transform(sequence(1, length({a}) - ({n}) + 1), "
                f"__i -> substring({a}, __i, {n})) END)"
            )
        raise DialectError(
            f"tokens: tokenizer {mode!r} does not map — 'default' "
            "and 'ngram' transpile; the 'split' separator-list mode "
            "is splitByString's job"
        )
    if name in ("snowflakeToDateTime", "snowflakeToDateTime64") and args:
        # Twitter snowflake: ms since 2010-11-04 epoch in bits 22+
        return (
            f"timestamp_millis(({args[0]} div 4194304) "
            f"+ 1288834974657)"
        )
    if name in ("dateTimeToSnowflake", "dateTime64ToSnowflake") and len(
        args
    ) == 1:
        return f"((unix_millis({args[0]}) - 1288834974657) * 4194304)"
    if name == "formatDateTimeInJodaSyntax" and len(args) == 2:
        return f"date_format({args[0]}, {args[1]})"
    if name == "fromUnixTimestampInJodaSyntax" and len(args) == 2:
        return f"from_unixtime({args[0]}, {args[1]})"
    if name in ("normalizeUTF8NFC", "normalizeUTF8NFD",
                "normalizeUTF8NFKC", "normalizeUTF8NFKD"):
        if len(args) != 1:
            raise DialectError(f"{name} takes one string argument")
        # Spark SQL has no normalization builtin — route through the
        # Arrow compat UDF (compat.py ch_normalize_utf8, the same
        # vectorized path as operators/text.py's text_nfc_normalize);
        # the form rides along as a constant column
        form = name.removeprefix("normalizeUTF8")
        return f"ch_normalize_utf8({args[0]}, '{form}')"
    if name in ("stem", "synonyms", "lemmatize", "detectLanguage",
                "detectCharset", "detectLanguageMixed",
                "detectLanguageUnknown", "detectProgrammingLanguage",
                "detectTonality"):
        raise DialectError(
            f"{name}: model-backed NLP — use the text operators "
            "(operators/text.py: text_langid n-gram language ID, "
            "text_quality, corpus.py stemming-free token stats)"
        )
    if name == "lagInFrame" and len(args) in (1, 2, 3):
        # frame semantics vetted by _guard_in_frame BEFORE the walk
        # (VERDICT r9 item 4): only frame-equivalent spellings reach
        # this map — lagInFrame with an UNBOUNDED PRECEDING start,
        # leadInFrame with an UNBOUNDED FOLLOWING end (explicit frames
        # already stripped; Spark's lag/lead reject them)
        return f"lag({joined})"
    if name == "leadInFrame" and len(args) in (1, 2, 3):
        return f"lead({joined})"
    if name == "sumCount" and len(args) == 1:
        return (
            f"named_struct('sum', sum({args[0]}), "
            f"'count', count({args[0]}))"
        )
    if name == "simpleLinearRegression" and len(args) == 2:
        # fits y = k·x + b; Spark's regr_* take (y, x)
        x, y = args
        return (
            f"named_struct('k', regr_slope({y}, {x}), "
            f"'b', regr_intercept({y}, {x}))"
        )
    if name == "skewPop" and len(args) == 1:
        return f"skewness({args[0]})"
    if name == "kurtPop" and len(args) == 1:
        # ClickHouse kurtPop is non-excess (m4/m2²); Spark kurtosis
        # is excess — shift back by 3
        return f"(kurtosis({args[0]}) + 3)"
    if name == "skewSamp" and len(args) == 1:
        # CH skewSamp = m3/s³ (s = SAMPLE stddev, m3 the /n central
        # moment) = population skewness scaled by (σ²_pop/σ²_samp)^1.5
        x = args[0]
        return (
            f"(skewness({x}) * pow(var_pop({x}) / var_samp({x}), 1.5))"
        )
    if name == "kurtSamp" and len(args) == 1:
        # CH kurtSamp = m4/s⁴ = non-excess kurtosis · (σ²p/σ²s)²
        x = args[0]
        return (
            f"((kurtosis({x}) + 3) * "
            f"pow(var_pop({x}) / var_samp({x}), 2))"
        )
    # --- r8 scalar batch 2 (pass-through audit: names Spark lacks) ---
    if name == "firstValue" and len(args) == 1:
        return f"first_value({args[0]})"
    if name == "lastValue" and len(args) == 1:
        return f"last_value({args[0]})"
    if name == "singleValueOrNull" and len(args) == 1:
        # the value iff the group has exactly ONE DISTINCT non-NULL
        # value (CH implements `x = ALL (subquery)`), else NULL — a
        # multi-row group sharing one value still yields the value
        # (ADVICE r8: the row-count form returned NULL there)
        x = args[0]
        return f"(CASE WHEN count(DISTINCT {x}) = 1 THEN max({x}) END)"
    if name == "subtractMonths" and len(args) == 2:
        return f"add_months({args[0]}, -({args[1]}))"
    if name == "subtractYears" and len(args) == 2:
        return f"add_months({args[0]}, -12 * ({args[1]}))"
    if name == "age" and len(args) == 3 and args[0][:1] in "'\"":
        # CH age() counts COMPLETE elapsed units — Spark's
        # timestampdiff has the same contract (dateDiff, already
        # mapped, counts boundary crossings instead)
        unit = args[0][1:-1].upper()
        if unit in (
            "SECOND", "MINUTE", "HOUR", "DAY", "WEEK", "MONTH",
            "QUARTER", "YEAR",
        ):
            return f"timestampdiff({unit}, {args[1]}, {args[2]})"
        raise DialectError(f"age: unsupported unit {unit!r}")
    if name == "timeSlots" and len(args) in (2, 3):
        # array of Size-aligned slot starts covering
        # [StartTime, StartTime + Duration] — a sequence over epoch
        # slots mapped back to timestamps, pure codegen
        ts, dur = args[0], args[1]
        size = args[2] if len(args) == 3 else "1800"
        lo = f"(unix_timestamp({ts}) div ({size}))"
        hi = f"((unix_timestamp({ts}) + ({dur})) div ({size}))"
        return (
            f"transform(sequence({lo}, {hi}), "
            f"__sl -> timestamp_seconds(__sl * ({size})))"
        )
    if name == "arrayShingles" and len(args) == 2:
        a, n = args
        # sequence(1, 0) would generate a DESCENDING ramp, so guard
        # the shorter-than-n case to CH's empty result explicitly
        return (
            f"(CASE WHEN size({a}) < ({n}) THEN array() "
            f"ELSE transform(sequence(1, size({a}) - ({n}) + 1), "
            f"__si -> slice({a}, __si, {n})) END)"
        )
    if name == "arrayAUC" and len(args) == 2:
        # ROC AUC from (scores, labels) arrays: rank-sum form
        # AUC = (Σ avgrank(pos) − P(P+1)/2) / (P·N) with average-tie
        # ranks — O(n²) lambda per row, matching CH's per-row cost
        # class (arrays are row-local; this is not a table scan)
        sc, lb = args
        p = f"size(filter({lb}, __v -> __v > 0))"
        npos_rank = (
            f"aggregate(sequence(1, size({sc})), CAST(0 AS DOUBLE), "
            f"(__acc, __i) -> __acc + IF(element_at({lb}, __i) > 0, "
            f"size(filter({sc}, __v -> __v < element_at({sc}, __i))) "
            f"+ (size(filter({sc}, __v -> __v = element_at({sc}, __i)"
            f")) + 1) / 2.0, CAST(0 AS DOUBLE)))"
        )
        # try_divide: an array with no positive (or no negative)
        # labels has an undefined AUC — CH yields nan; NULL is the
        # deterministic Spark-typed analog (the boundingRatio
        # precedent; audit batch 17 — the plain division raised
        # DIVIDE_BY_ZERO under ANSI)
        return (
            f"try_divide({npos_rank} - ({p}) * (({p}) + 1) / 2.0, "
            f"({p}) * (size({sc}) - ({p})))"
        )
    if name in ("arrayPRAUC", "arrayAUCPR") and len(args) == 2:
        # precision-recall AUC, CH's rectangle rule: walk (score,
        # label) pairs sorted by score DESC; each positive adds the
        # running precision; divide by total positives.  Equal
        # scores walk in ARRAY order where CH's sort order on ties
        # is unspecified — a deterministic refinement (the arrayAUC
        # average-tie-rank precedent); ZERO positive labels yield
        # NULL via try_divide(0, 0) (CH: nan), all-positive yields
        # 1.0 — every precision term is 1.  CH docs example pins the
        # value: arrayPRAUC([0.1,0.4,0.35,0.8],[0,0,1,1]) = 5/6.
        sc, lb = args
        pairs = (
            f"array_sort(zip_with({sc}, {lb}, (__s, __l) -> "
            f"named_struct('sc', CAST(__s AS DOUBLE), "
            f"'lb', CAST(__l AS DOUBLE))), (__x, __y) -> "
            f"CASE WHEN __x.sc > __y.sc THEN -1 "
            f"WHEN __x.sc < __y.sc THEN 1 ELSE 0 END)"
        )
        return (
            f"aggregate({pairs}, "
            f"named_struct('tp', CAST(0 AS DOUBLE), "
            f"'fp', CAST(0 AS DOUBLE), 'area', CAST(0 AS DOUBLE)), "
            f"(__a, __e) -> IF(__e.lb > 0, "
            f"named_struct('tp', __a.tp + 1, 'fp', __a.fp, "
            f"'area', __a.area + (__a.tp + 1) / "
            f"(__a.tp + 1 + __a.fp)), "
            f"named_struct('tp', __a.tp, 'fp', __a.fp + 1, "
            f"'area', __a.area)), "
            f"__a -> try_divide(__a.area, __a.tp))"
        )
    if name == "toBFloat16":
        raise DialectError(
            "toBFloat16: Spark has no 16-bit float storage type — "
            "CAST AS FLOAT keeps full float32 precision instead of "
            "truncating the mantissa"
        )
    if name == "svg":
        raise DialectError(
            "svg: SVG-path geometry rendering has no Spark analog — "
            "wkt() transpiles for text serialization; render SVG in "
            "the presentation layer"
        )
    # --- WKT geometry text format (VERDICT r13 item 3: a public
    # text format parsable with pure string/array ops — no geo
    # library).  ClickHouse's geometry model maps onto plain Spark
    # types: Point = struct(x,y DOUBLE), Ring/LineString =
    # array<point>, Polygon = array<ring>, MultiPolygon =
    # array<polygon>.  Parse side: regexp strip the tag + outer
    # parens, split rings on ')…(' seams, points on commas —
    # malformed text reaches an ANSI CAST('' AS DOUBLE) and throws,
    # keeping CH's throw-on-bad-WKT contract.  readWKTRing follows
    # boost::geometry (CH's parser): a Ring reads POLYGON((…)) text
    # with a single ring.
    if name in (
        "readWKTPoint", "readWKTRing", "readWKTLineString",
        "readWKTPolygon", "readWKTMultiPolygon",
        "readWKTMultiLineString",
    ) and len(args) == 1:
        s = args[0]

        def _wkt_points(txt: str) -> str:
            # "x1 y1, x2 y2" → array<struct<x,y DOUBLE>>
            return (
                f"transform(split({txt}, ','), __wp -> named_struct("
                "'x', CAST(element_at(split(trim(__wp), '\\\\s+'), "
                "1) AS DOUBLE), "
                "'y', CAST(element_at(split(trim(__wp), '\\\\s+'), "
                "2) AS DOUBLE)))"
            )

        if name == "readWKTPoint":
            # trailing '-' keeps negative exponents (1.5e-3) inside
            # the class (code-review r14a)
            num = "(-?[0-9.eE+-]+)"
            pre = (
                f"regexp_extract({s}, '^\\\\s*POINT\\\\s*\\\\("
                f"\\\\s*{num}\\\\s+{num}\\\\s*\\\\)\\\\s*$', "
            )
            return (
                f"named_struct('x', CAST({pre}1) AS DOUBLE), "
                f"'y', CAST({pre}2) AS DOUBLE))"
            )
        if name == "readWKTLineString":
            body = (
                f"regexp_extract({s}, '^\\\\s*LINESTRING\\\\s*"
                f"\\\\((.*)\\\\)\\\\s*$', 1)"
            )
            return _wkt_points(body)
        if name == "readWKTRing":
            body = (
                f"regexp_extract({s}, '^\\\\s*POLYGON\\\\s*\\\\("
                f"\\\\s*\\\\((.*)\\\\)\\\\s*\\\\)\\\\s*$', 1)"
            )
            return _wkt_points(body)
        if name == "readWKTPolygon":
            body = (
                f"regexp_extract({s}, '^\\\\s*POLYGON\\\\s*\\\\("
                f"\\\\s*\\\\((.*)\\\\)\\\\s*\\\\)\\\\s*$', 1)"
            )
            return (
                f"transform(split({body}, "
                f"'\\\\)\\\\s*,\\\\s*\\\\('), "
                f"__wr -> {_wkt_points('__wr')})"
            )
        if name == "readWKTMultiLineString":
            body = (
                f"regexp_extract({s}, '^\\\\s*MULTILINESTRING"
                f"\\\\s*\\\\(\\\\s*\\\\((.*)\\\\)\\\\s*\\\\)"
                f"\\\\s*$', 1)"
            )
            return (
                f"transform(split({body}, "
                f"'\\\\)\\\\s*,\\\\s*\\\\('), "
                f"__wr -> {_wkt_points('__wr')})"
            )
        # readWKTMultiPolygon: strip three paren layers, split
        # polygons on the '))…((' seam, rings on the ')…(' seam
        body = (
            f"regexp_extract({s}, '^\\\\s*MULTIPOLYGON\\\\s*\\\\("
            f"\\\\s*\\\\(\\\\s*\\\\((.*)\\\\)\\\\s*\\\\)\\\\s*"
            f"\\\\)\\\\s*$', 1)"
        )
        return (
            f"transform(split({body}, "
            f"'\\\\)\\\\s*\\\\)\\\\s*,\\\\s*\\\\(\\\\s*\\\\('), "
            f"__wpg -> transform(split(__wpg, "
            f"'\\\\)\\\\s*,\\\\s*\\\\('), "
            f"__wr -> {_wkt_points('__wr')}))"
        )
    if name in (
        "readWKTPoint", "readWKTRing", "readWKTLineString",
        "readWKTPolygon", "readWKTMultiPolygon",
        "readWKTMultiLineString",
    ) or (name == "wkt" and len(args) != 1):
        # wrong arity refuses, never leaks the CH name
        # (code-review r14a)
        raise DialectError(
            f"{name} takes exactly one argument"
        )
    if name == "wkt" and len(args) == 1:
        # Serialize side.  The argument's nesting depth is a RUNTIME
        # property Spark types won't reveal at transpile time — so
        # serialize through to_json (works for any struct/array
        # nesting), collapse each two-field object to "x y" text,
        # turn brackets into parens, and dispatch the WKT tag on the
        # leading paren depth: 0 → POINT, 1 → POLYGON((ring)) (the
        # Ring reading, CH docs' own wkt([...]) example), 2 →
        # POLYGON, 3 → MULTIPOLYGON.  Divergences (MIGRATION.md):
        # CH's distinct LineString TYPE serializes as LINESTRING —
        # the plain-array representation can't carry that tag, so
        # the Ring reading wins; rings serialize as stored (no
        # boost-style closure correction); doubles print via JSON
        # shortest form with a trailing-'.0' strip, so exponent-
        # formatted extremes keep the E notation.  A leftover brace
        # or quote after the point collapse means the argument was
        # not a point/ring/polygon nesting — raise, keeping CH's
        # type-error contract.
        clean = (
            f"regexp_replace(translate(regexp_replace("
            f"to_json({args[0]}), "
            "'\\\\{\"[^\"]+\":(-?[^,]+),\"[^\"]+\":(-?[^}]+)\\\\}', "
            "'$1 $2'), '[]', '()'), '\\\\.0(?![0-9])', '')"
        )
        return (
            f"element_at(transform(array({clean}), __wg -> "
            # the second alternative catches arrays of PLAIN
            # numbers (a bare atom between (/, and ,/) with no
            # space is a scalar, not an 'x y' pair) — CH raises a
            # type error for such nestings (code-review r14a)
            "CASE WHEN __wg RLIKE "
            "'[{\"]|[(,](-?[0-9.eE+-]+)[,)]' THEN "
            "CAST(raise_error(concat('wkt: not a point/ring/"
            "polygon/multipolygon shape: ', __wg)) AS STRING) "
            "WHEN left(__wg, 1) <> '(' "
            "THEN concat('POINT(', __wg, ')') "
            "WHEN left(__wg, 2) <> '((' "
            "THEN concat('POLYGON(', __wg, ')') "
            "WHEN left(__wg, 3) <> '(((' "
            "THEN concat('POLYGON', __wg) "
            "ELSE concat('MULTIPOLYGON', __wg) END), 1)"
        )
    if name == "caseWithExpression" and len(args) >= 4:
        # caseWithExpression(x, v1, r1, …, default) — the CASE x
        # WHEN form spelled as a function
        x, rest = args[0], args[1:]
        default = rest[-1]
        pairs = rest[:-1]
        if len(pairs) % 2:
            raise DialectError(
                "caseWithExpression needs (x, v1, r1, …, default)"
            )
        whens = "".join(
            f" WHEN {pairs[i]} THEN {pairs[i + 1]}"
            for i in range(0, len(pairs), 2)
        )
        return f"(CASE {x}{whens} ELSE {default} END)"
    if name == "toFixedString" and len(args) == 2:
        s, n = args
        # CH throws when the value exceeds N — keep that contract
        # (silent rpad-truncation would corrupt join keys)
        return (
            f"(CASE WHEN length({s}) > ({n}) THEN "
            f"CAST(raise_error('toFixedString: value longer than "
            f"fixed size') AS STRING) "
            f"ELSE rpad({s}, {n}, chr(0)) END)"
        )
    if name == "sigmoid" and len(args) == 1:
        return f"(1.0 / (1.0 + exp(-({args[0]}))))"
    if name in ("erf", "erfc", "lgamma", "tgamma") and len(args) == 1:
        # no Catalyst spelling exists — Arrow-batched UDFs from the
        # compat registry (libm-exact, vectorized transfer); the only
        # sanctioned non-expression scalars besides ch_t_pvalue
        return f"ch_{name}({args[0]})"
    if name in (
        "normalizeQuery", "normalizedQueryHash",
        "normalizeQueryKeepNames", "normalizedQueryHashKeepNames",
    ):
        raise DialectError(
            f"{name}: ClickHouse's literal-masking rules are "
            "version-specific (silent divergence risk) — spell the "
            "masking explicitly, e.g. regexp_replace(regexp_replace("
            "q, '''[^'']*''', '?'), '\\\\b\\\\d+\\\\b', '?') "
            "[+ xxhash64 for the hash]"
        )
    if name == "extractGroups" and len(args) == 2:
        s, pat = args
        groups = _literal_capture_groups(name, pat)
        parts = ", ".join(
            f"regexp_extract({s}, {pat}, {g})"
            for g in range(1, groups + 1)
        )
        # CH returns [] when nothing matches (not ['','',…])
        return (
            f"(CASE WHEN regexp_like({s}, {pat}) "
            f"THEN array({parts}) ELSE array() END)"
        )
    if name in (
        "extractAllGroupsHorizontal", "extractAllGroupsVertical",
        "extractAllGroups",
    ) and len(args) == 2:
        # Per-match group matrices (VERDICT r10 item 3, flips the
        # batch-9 refusal).  Horizontal: one array per capture group
        # holding that group across ALL matches — regexp_extract_all
        # per group (the pattern is literal, so the group count folds
        # at transpile time, the extractGroups precedent).  Vertical
        # (and its alias extractAllGroups): one array per MATCH
        # holding all groups — the transpose, built by indexing the
        # horizontal arrays inside a transform (the array(…)[1] bind
        # trick keeps each regexp_extract_all spelled once).  No
        # matches: Horizontal gives N empty arrays, Vertical gives []
        # — both fall out of regexp_extract_all's empty result,
        # matching CH's documented asymmetry.
        s, pat = args
        groups = _literal_capture_groups(name, pat)
        per_group = ", ".join(
            f"regexp_extract_all({s}, {pat}, {g})"
            for g in range(1, groups + 1)
        )
        if name == "extractAllGroupsHorizontal":
            return f"array({per_group})"
        return (
            f"element_at(transform(array(array({per_group})), "
            "__eag -> transform(element_at(__eag, 1), (__x, __i) -> "
            "transform(__eag, __g -> element_at(__g, __i + 1)))), 1)"
        )
    # --- r8 batch 8: tuples, bitmaps, XML escapes, relative nums ---
    if name == "tupleElement" and len(args) == 2:
        t_, sel = args
        sel_s = sel.strip()
        if sel_s[:1] in "'\"":
            return f"({t_}).{sel_s.strip(chr(39) + chr(34))}"
        raise DialectError(
            "tupleElement with a positional index needs the tuple's "
            "field names (Spark structs are name-addressed) — "
            "positional .N access works on the tuple-RETURNING "
            "rewrites (sumCount(x).1); on columns use t.fieldname"
        )
    if name == "tupleToNameValuePairs":
        raise DialectError(
            "tupleToNameValuePairs introspects the tuple's type — "
            "spell the pairs explicitly: array(struct('a', t.a), …)"
        )
    # roaring-bitmap family: the portable representation is the
    # SORTED DISTINCT ARRAY (same value set, no compressed container
    # — documented); every op below preserves that canonical form
    if name == "bitmapBuild" and len(args) == 1:
        return f"array_sort(array_distinct({args[0]}))"
    if name == "bitmapToArray" and len(args) == 1:
        return f"array_sort(array_distinct({args[0]}))"
    if name == "bitmapCardinality" and len(args) == 1:
        return f"size(array_distinct({args[0]}))"
    if name in ("bitmapAnd", "bitmapOr", "bitmapXor",
                "bitmapAndnot") and len(args) == 2:
        a, b = args
        inner = {
            "bitmapAnd": f"array_intersect({a}, {b})",
            "bitmapOr": f"array_union({a}, {b})",
            "bitmapXor": (
                f"array_except(array_union({a}, {b}), "
                f"array_intersect({a}, {b}))"
            ),
            "bitmapAndnot": f"array_except({a}, {b})",
        }[name]
        return f"array_sort({inner})"
    if name in ("bitmapAndCardinality", "bitmapOrCardinality",
                "bitmapXorCardinality",
                "bitmapAndnotCardinality") and len(args) == 2:
        inner = _render_call(name[: -len("Cardinality")], args)
        return f"size({inner})"
    if name == "bitmapContains" and len(args) == 2:
        return f"array_contains({args[0]}, {args[1]})"
    if name == "bitmapHasAny" and len(args) == 2:
        return f"arrays_overlap({args[0]}, {args[1]})"
    if name == "bitmapHasAll" and len(args) == 2:
        return f"(size(array_except({args[1]}, {args[0]})) = 0)"
    if name in ("bitmapMin", "bitmapMax") and len(args) == 1:
        return f"array_{name[-3:].lower()}({args[0]})"
    # ---- r13 audit batch 17: bitmap subset/transform family --------
    if name == "bitmapSubsetInRange" and len(args) == 3:
        b, lo, hi = args
        return (
            f"array_sort(filter(array_distinct({b}), "
            f"__bv -> __bv >= ({lo}) AND __bv < ({hi})))"
        )
    if name == "bitmapSubsetLimit" and len(args) == 3:
        # members >= start, smallest `limit` of them (CH keeps the
        # lowest values — the sorted canonical form makes that a
        # prefix slice)
        b, lo, lim = args
        return (
            f"slice(array_sort(filter(array_distinct({b}), "
            f"__bv -> __bv >= ({lo}))), 1, CAST({lim} AS INT))"
        )
    if name == "subBitmap" and len(args) == 3:
        # CH offset is 0-based over the sorted value set
        b, off, card = args
        return (
            f"slice(array_sort(array_distinct({b})), "
            f"CAST(({off}) + 1 AS INT), CAST({card} AS INT))"
        )
    if name == "bitmapTransform" and len(args) == 3:
        # replace members found in from_arr with the same-index
        # to_arr value, pass others through, re-canonicalize (the
        # result is a SET: collisions collapse, like CH)
        b, frm, to = args
        return (
            f"array_sort(array_distinct(transform("
            f"array_distinct({b}), "
            f"__bv -> IF(array_position({frm}, __bv) > 0, "
            f"element_at({to}, "
            f"CAST(array_position({frm}, __bv) AS INT)), __bv))))"
        )
    if name == "arrayUnion" and len(args) >= 2:
        out = args[0]
        for nxt in args[1:]:
            out = f"array_union({out}, {nxt})"
        return out
    if name == "arraySymmetricDifference" and len(args) == 2:
        a, b = args
        return (
            f"array_except(array_union({a}, {b}), "
            f"array_intersect({a}, {b}))"
        )
    if name == "encodeXMLComponent" and len(args) == 1:
        # the five XML predefined entities; & FIRST so later entities
        # aren't double-escaped
        s = args[0]
        for lit, ent in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"),
                         ('"', "&quot;"), ("'", "&apos;")):
            q = "'" + lit.replace("'", "\\'") + "'"
            e = f"'{ent}'"
            s = f"replace({s}, {q}, {e})"
        return s
    if name == "decodeXMLComponent" and len(args) == 1:
        # reverse order: entities first, & LAST
        s = args[0]
        for ent, lit in (("&lt;", "<"), ("&gt;", ">"),
                         ("&quot;", '"'), ("&apos;", "'"),
                         ("&amp;", "&")):
            q = "'" + lit.replace("'", "\\'") + "'"
            e = f"'{ent}'"
            s = f"replace({s}, {e}, {q})"
        return s
    if name == "decodeHTMLComponent":
        raise DialectError(
            "decodeHTMLComponent needs the full HTML entity table — "
            "decodeXMLComponent (the five predefined entities) "
            "transpiles"
        )
    if name in ("sleep", "sleepEachRow"):
        raise DialectError(
            f"{name} is ClickHouse's throttling test function — "
            "nothing to compute"
        )
    if name == "bitSlice":
        raise DialectError(
            "bitSlice addresses sub-byte bit ranges of a string — "
            "use conv()/shiftright/& arithmetic on integers, or "
            "substring() for byte ranges"
        )
    if name == "toRelativeSecondNum" and len(args) == 1:
        return f"unix_timestamp({args[0]})"
    if name == "toRelativeYearNum" and len(args) == 1:
        return f"year({args[0]})"
    if name == "toRelativeMonthNum" and len(args) == 1:
        # CH DateLUT: year·12 + month (1-based month)
        return f"(year({args[0]}) * 12 + month({args[0]}))"
    if name == "toRelativeQuarterNum" and len(args) == 1:
        # CH DateLUT: year·4 + (month-1)/3 (0-based quarter)
        return (
            f"(year({args[0]}) * 4 + (month({args[0]}) - 1) div 3)"
        )
    if name == "toRelativeWeekNum":
        raise DialectError(
            "toRelativeWeekNum's week anchor is DateLUT-internal "
            "(version-specific) — use "
            "datediff(toStartOfWeek(d), toDate('1970-01-05')) div 7 "
            "for an explicit Monday-anchored week number"
        )
    if name in (
        "fromUnixTimestamp64Second", "fromUnixTimestamp64Milli",
        "fromUnixTimestamp64Micro", "fromUnixTimestamp64Nano",
    ) and len(args) == 2:
        # optional-timezone form (code-review r13f): the session
        # pins UTC — accept it, refuse any other zone (the
        # toYYYYMMDD precedent)
        tz = args[1].strip().strip("'\"")
        if tz.upper() != "UTC":
            raise DialectError(
                f"{name}: only the 'UTC' timezone form maps "
                "(session time zone is pinned UTC)"
            )
        return _render_call(name, args[:1])
    if name == "fromUnixTimestamp64Second" and len(args) == 1:
        return f"timestamp_seconds({args[0]})"
    if name == "toUnixTimestamp64Second" and len(args) == 1:
        return f"unix_seconds({args[0]})"
    if name == "fromUnixTimestamp64Micro" and len(args) == 1:
        return f"timestamp_micros({args[0]})"
    if name == "toUnixTimestamp64Micro" and len(args) == 1:
        return f"unix_micros({args[0]})"
    if name == "fromUnixTimestamp64Nano" and len(args) == 1:
        # Spark timestamps are µs precision — ns truncate (documented)
        return f"timestamp_micros(({args[0]}) div 1000)"
    if name == "toUnixTimestamp64Nano" and len(args) == 1:
        return f"(unix_micros({args[0]}) * 1000)"
    # --- r8 batch 6: third pass-through audit ---
    if name in ("toNullable", "materialize", "identity") and len(args) == 1:
        # CH type/engine hints with no Spark meaning — the identity
        # expression (Spark columns are already nullable; there is no
        # constant-folding to defeat)
        return f"({args[0]})"
    if name == "splitByNonAlpha" and len(args) == 1:
        # alphanumeric runs survive; separators are everything else
        return (
            f"filter(split({args[0]}, '[^A-Za-z0-9]+'), "
            f"__t -> __t != '')"
        )
    if name in (
        "stringJaccardIndex", "stringJaccardIndexUTF8",
    ) and len(args) == 2:
        # Jaccard over the two strings' character sets (CH: byte
        # sets; identical on ASCII, character-level on UTF8 here —
        # the UTF8-safe refinement).  Both empty → 0 gram sets →
        # NULL (coalesce to pin), one empty → 0.0.
        a, b = args
        # split('', '') yields [''] — drop that artifact so empty
        # strings have EMPTY char sets (both empty → NULL, one
        # empty → 0.0)
        ca = f"array_remove(array_distinct(split({a}, '')), '')"
        cb = f"array_remove(array_distinct(split({b}, '')), '')"
        return (
            f"element_at(transform(array(struct({ca} AS a, {cb} AS b)"
            f"), __g -> CASE WHEN size(array_union(__g.a, __g.b)) = 0"
            f" THEN CAST(NULL AS DOUBLE) ELSE "
            f"CAST(size(array_intersect(__g.a, __g.b)) AS DOUBLE) / "
            f"size(array_union(__g.a, __g.b)) END), 1)"
        )
    if name in ("arrayRotateLeft", "arrayRotateRight") and len(args) == 2:
        a, n = args
        # normalize the shift into [0, size) — negative n rotates the
        # other way, n > size wraps (CH semantics); the size-0 guard
        # keeps the modulus away from ANSI division-by-zero
        sz = f"greatest(size({a}), 1)"
        eff = f"((({n}) % ({sz})) + ({sz})) % ({sz})"
        if name == "arrayRotateRight":
            eff = f"(({sz}) - ({eff})) % ({sz})"
        return (
            f"element_at(transform(array(struct({a} AS a, "
            f"CAST({eff} AS INT) AS k)), __r -> CASE WHEN "
            f"size(__r.a) = 0 THEN __r.a ELSE concat("
            f"slice(__r.a, __r.k + 1, size(__r.a) - __r.k), "
            f"slice(__r.a, 1, __r.k)) END), 1)"
        )
    if name in ("arrayShiftLeft", "arrayShiftRight"):
        if len(args) != 3:
            raise DialectError(
                f"{name}(arr, n) fills vacated slots with the element "
                "TYPE DEFAULT, which needs type information — pass "
                "the fill value explicitly: "
                f"{name}(arr, n, fill)"
            )
        a, n, fill = args
        sz = f"size({a})"
        # negative n shifts the OPPOSITE direction (CH rule) — emit a
        # runtime sign branch rather than clamping to no-op (ADVICE
        # r8: the old least/greatest form silently dropped the shift
        # for runtime-negative expressions)
        k = f"CAST(least(abs(CAST({n} AS BIGINT)), {sz}) AS INT)"
        pad = f"array_repeat({fill}, {k})"
        left = (
            f"concat(slice({a}, ({k}) + 1, ({sz}) - ({k})), {pad})"
        )
        right = f"concat({pad}, slice({a}, 1, ({sz}) - ({k})))"
        if name == "arrayShiftRight":
            left, right = right, left
        return (
            f"(CASE WHEN CAST({n} AS BIGINT) >= 0 "
            f"THEN {left} ELSE {right} END)"
        )
    if name == "arrayDotProduct" and len(args) == 2:
        name = "dotProduct"  # alias — falls through to the mapping
    if name == "proportionsZTest" and len(args) == 6:
        # two-proportion z-test (scalar: all six args are values) —
        # pool_type and confidence must be literals so the variance
        # form and the normal quantile fold at transpile time
        sx, sy, tx, ty, conf, pool = args
        pool_l = pool.strip().strip("'\"").lower()
        if pool_l not in ("pooled", "unpooled"):
            raise DialectError(
                "proportionsZTest pool_type must be the literal "
                "'pooled' or 'unpooled'"
            )
        try:
            conf_f = float(conf)
        except ValueError:
            raise DialectError(
                "proportionsZTest confidence level must be a numeric "
                "literal"
            )
        if not 0.0 < conf_f < 1.0:
            raise DialectError(
                "proportionsZTest confidence level must be in (0, 1)"
            )
        from statistics import NormalDist

        zcrit = NormalDist().inv_cdf((1.0 + conf_f) / 2.0)
        # all arithmetic in DOUBLE: a bare 1.0 literal parses as
        # DECIMAL(2,1) in Spark and 1.0/101 would round at decimal
        # scale (measured 1e-8 drift in se)
        one_ = "CAST(1 AS DOUBLE)"
        p1 = f"(CAST({sx} AS DOUBLE) / ({tx}))"
        p2 = f"(CAST({sy} AS DOUBLE) / ({ty}))"
        diff = f"(({p1}) - ({p2}))"
        if pool_l == "pooled":
            pp = f"(CAST(({sx}) + ({sy}) AS DOUBLE) / (({tx}) + ({ty})))"
            se = (
                f"sqrt(({pp}) * ({one_} - ({pp})) * "
                f"({one_} / ({tx}) + {one_} / ({ty})))"
            )
        else:
            se = (
                f"sqrt(({p1}) * ({one_} - ({p1})) / ({tx}) + "
                f"({p2}) * ({one_} - ({p2})) / ({ty}))"
            )
        z = f"(({diff}) / ({se}))"
        return (
            f"named_struct('z_stat', {z}, "
            f"'p_value', ch_erfc(abs({z}) / sqrt(2.0)), "
            f"'ci_low', ({diff}) - ({zcrit!r}) * ({se}), "
            f"'ci_high', ({diff}) + ({zcrit!r}) * ({se}))"
        )
    if name in (
        "damerauLevenshteinDistance", "jaroSimilarity",
        "jaroWinklerSimilarity",
    ) and len(args) == 2:
        # textbook metrics via the Arrow-UDF precedent (VERDICT r9
        # item 5; compat.py _register_vectorized) — char-level, the
        # documented editDistance→levenshtein UTF-8 caveat applies
        fn = {
            "damerauLevenshteinDistance": "ch_damerau_levenshtein",
            "jaroSimilarity": "ch_jaro",
            "jaroWinklerSimilarity": "ch_jaro_winkler",
        }[name]
        return f"{fn}({args[0]}, {args[1]})"
    if name == "byteSize":
        raise DialectError(
            "byteSize reports ClickHouse's in-memory value "
            "representation — engine-internal; octet_length(x) "
            "measures string bytes"
        )
    if name in ("multiplyDecimal", "divideDecimal"):
        raise DialectError(
            f"{name}'s result scale depends on the declared Decimal "
            "types — spell the arithmetic with an explicit cast: "
            "CAST(a * b AS DECIMAL(38, s))"
        )
    # generateUUIDv7/generateSnowflakeID map above (r10): zero-arg →
    # faithful time-ordered construction; one-arg → the deterministic
    # md5 tier (documented determinism upgrade for test users)
    if name in ("UUIDStringToNum", "UUIDNumToString", "UUIDToNum"):
        raise DialectError(
            f"{name}: ClickHouse's internal UUID byte order is "
            "engine-specific; unhex(replace(s, '-', '')) gives the "
            "textual byte order"
        )
    if name in ("distinctDynamicTypes", "distinctJSONPaths",
                "distinctJSONPathsAndTypes", "dynamicType",
                "dynamicElement", "isDynamicElementInSharedData",
                "variantType", "variantElement"):
        raise DialectError(
            f"{name} inspects ClickHouse's Dynamic/Variant/JSON "
            "column types — Spark columns are statically typed; "
            "model the union explicitly (a struct of typed fields "
            "or a tagged string column)"
        )
    if name in ("getSizeOfEnumType", "getTypeSerializationStreams"):
        raise DialectError(
            f"{name} inspects ClickHouse's type system (Enum value "
            "sets / serialization stream layout) — no Spark analog; "
            "read the schema via DESCRIBE instead"
        )
    if name in ("emptyArrayToSingle", "defaultValueOfArgumentType",
                "defaultValueOfTypeName"):
        raise DialectError(
            f"{name} needs the element TYPE DEFAULT, which needs "
            "type information — spell it explicitly: CASE WHEN "
            "size(a) = 0 THEN array(<default>) ELSE a END"
        )
    if name in ("groupArrayInsertAt", "aggThrow"):
        raise DialectError(
            f"{name}: position-keyed array build fills gaps with the "
            "TYPE DEFAULT (needs type info) — build with "
            "map_from_entries(collect_list(struct(pos, x))) and read "
            "positions from the map"
            if name == "groupArrayInsertAt"
            else "aggThrow is ClickHouse's fault-injection test "
            "aggregate — nothing to compute"
        )
    if name == "regexpQuoteMeta" and len(args) == 1:
        # backslash-escape CH's documented metacharacter set
        # \0 \\ | ( ) ^ $ . [ ] ? * + { : -  (stable across releases;
        # the NUL byte cannot occur in a Spark STRING, so the \0 rule
        # is vacuously satisfied) — r10, was a refusal
        return (
            f"regexp_replace({args[0]}, "
            "'([\\\\\\\\|()^$.\\\\[\\\\]?*+{:-])', '\\\\\\\\$1')"
        )
    if name == "formatReadableTimeDelta":
        raise DialectError(
            "formatReadableTimeDelta's unit-list rendering is "
            "locale/version-styled — parseTimeDelta (inverse) "
            "transpiles; build the display string with concat_ws + "
            "div/mod arithmetic"
        )
    # --- r8 scalar batch 3: vectors, array HOFs, tokens, MJD ---
    if name in ("dotProduct", "scalarProduct") and len(args) == 2:
        a, b = args
        # CH accepts tuples as well as arrays (batch 18): literal
        # tuples expand per-field like the tuple-arithmetic family —
        # zip_with would reject the struct operands
        fa, fb = _tuple_fields(a), _tuple_fields(b)
        if fa is not None and fb is not None:
            if len(fa) != len(fb):
                raise DialectError(
                    f"{name}: tuple operands have different arities "
                    f"({len(fa)} vs {len(fb)})"
                )
            return "(" + " + ".join(
                f"(CAST(({x}) AS DOUBLE) * ({y}))"
                for x, y in zip(fa, fb)
            ) + ")"
        return (
            f"aggregate(zip_with({a}, {b}, (__p, __q) -> "
            f"CAST(__p AS DOUBLE) * __q), CAST(0 AS DOUBLE), "
            f"(__ac, __v) -> __ac + __v)"
        )
    if name in ("L1Norm", "L2Norm", "L2SquaredNorm", "LinfNorm") \
            and len(args) == 1:
        a = args[0]
        if name == "LinfNorm":
            return f"array_max(transform({a}, __v -> abs(CAST(__v AS DOUBLE))))"
        term = {
            "L1Norm": "abs(CAST(__v AS DOUBLE))",
            "L2Norm": "CAST(__v AS DOUBLE) * __v",
            "L2SquaredNorm": "CAST(__v AS DOUBLE) * __v",
        }[name]
        s = (
            f"aggregate(transform({a}, __v -> {term}), "
            f"CAST(0 AS DOUBLE), (__ac, __v) -> __ac + __v)"
        )
        return f"sqrt({s})" if name == "L2Norm" else s
    if name in (
        "L1Distance", "L2Distance", "L2SquaredDistance",
        "LinfDistance", "cosineDistance",
    ) and len(args) == 2:
        a, b = args
        diff = f"zip_with({a}, {b}, (__p, __q) -> CAST(__p AS DOUBLE) - __q)"

        def _dsum(arr_expr: str, term: str) -> str:
            return (
                f"aggregate(transform({arr_expr}, __v -> {term}), "
                f"CAST(0 AS DOUBLE), (__ac, __v) -> __ac + __v)"
            )

        if name == "L1Distance":
            return _dsum(diff, "abs(__v)")
        if name == "L2Distance":
            return f"sqrt({_dsum(diff, '__v * __v')})"
        if name == "L2SquaredDistance":
            return _dsum(diff, "__v * __v")
        if name == "LinfDistance":
            return f"array_max(transform({diff}, __v -> abs(__v)))"
        dot = (
            f"aggregate(zip_with({a}, {b}, (__p, __q) -> "
            f"CAST(__p AS DOUBLE) * __q), CAST(0 AS DOUBLE), "
            f"(__ac, __v) -> __ac + __v)"
        )
        na = f"sqrt({_dsum(a, 'CAST(__v AS DOUBLE) * __v')})"
        nb = f"sqrt({_dsum(b, 'CAST(__v AS DOUBLE) * __v')})"
        return f"(1.0 - ({dot}) / (({na}) * ({nb})))"
    if name == "LpNorm" and len(args) == 2:
        # audit batch 17: general-p Minkowski norm — same fold shape
        # as the fixed-p family above
        a, p = args
        s = (
            f"aggregate(transform({a}, __v -> "
            f"power(abs(CAST(__v AS DOUBLE)), CAST({p} AS DOUBLE))), "
            f"CAST(0 AS DOUBLE), (__ac, __v) -> __ac + __v)"
        )
        return f"power({s}, 1.0d / ({p}))"
    if name == "LpDistance" and len(args) == 3:
        a, b, p = args
        diff = (
            f"zip_with({a}, {b}, (__p, __q) -> "
            f"CAST(__p AS DOUBLE) - __q)"
        )
        return _render_call("LpNorm", [diff, p])
    if name in (
        "L1Normalize", "L2Normalize", "LinfNormalize",
    ) and len(args) == 1:
        # audit batch 17: scale to unit norm; a zero vector yields
        # NULL components (CH: inf/nan — try_divide is the
        # deterministic analog, the boundingRatio precedent)
        nrm = _render_call(name[: -len("alize")], args)  # e.g. L1Norm
        return (
            f"transform({args[0]}, "
            f"__v -> try_divide(CAST(__v AS DOUBLE), {nrm}))"
        )
    if name == "LpNormalize" and len(args) == 2:
        nrm = _render_call("LpNorm", args)
        return (
            f"transform({args[0]}, "
            f"__v -> try_divide(CAST(__v AS DOUBLE), {nrm}))"
        )
    if name in ("arrayPartialSort", "arrayPartialReverseSort") \
            and len(args) == 2:
        # CH guarantees the first N positions sorted and leaves the
        # tail UNSPECIFIED — the full sort is a deterministic
        # refinement of that contract (the unspecified tail would
        # otherwise be partitioning-dependent)
        arr = args[1]
        srt = f"array_sort({arr})"
        if name.endswith("ReverseSort"):
            return f"reverse({srt})"
        return srt
    if name == "arraySplit" and len(args) == 2:
        # split BEFORE each element the predicate accepts (CH
        # semantics); a left fold appends to the last group or opens
        # a new one.  The empty-input branch builds a typed empty
        # array-of-arrays by slicing a dummy singleton to length 0
        # (try_element_at keeps it null-safe), so both CASE arms
        # carry the element type without naming it.
        lam, arr = args
        pred = f"element_at(transform(array(__v), {lam}), 1)"
        return (
            f"(CASE WHEN size({arr}) = 0 THEN "
            f"slice(array(array(try_element_at({arr}, 1))), 1, 0) "
            f"ELSE aggregate(slice({arr}, 2, size({arr}) - 1), "
            f"array(array(element_at({arr}, 1))), "
            f"(__sp, __v) -> IF({pred}, "
            f"concat(__sp, array(array(__v))), "
            f"concat(slice(__sp, 1, size(__sp) - 1), "
            f"array(concat(element_at(__sp, -1), array(__v))))))"
            f" END)"
        )
    if name == "arrayFirstOrNull" and len(args) == 2:
        lam, arr = args
        return f"try_element_at(filter({arr}, {lam}), 1)"
    if name == "arrayLastOrNull" and len(args) == 2:
        lam, arr = args
        return f"try_element_at(filter({arr}, {lam}), -1)"
    if name == "arrayStringConcat" and len(args) == 1:
        return f"array_join({args[0]}, '')"
    if name in (
        "hasSubsequence", "hasSubsequenceUTF8",
        "hasSubsequenceCaseInsensitive",
        "hasSubsequenceCaseInsensitiveUTF8",
    ) and len(args) == 2:
        # needle chars must appear in haystack in ORDER, not
        # necessarily contiguously (r14 batch 25): a single greedy
        # left-to-right fold over the haystack's characters is
        # optimal for subsequence matching.  The fold is
        # CHAR-addressed — that IS the *UTF8 contract; CH's BASE
        # form scans bytes, so a multibyte haystack can diverge
        # (CH finds the needle's UTF-8 bytes scattered across
        # different characters' bytes — the batch-19 family-wide
        # char-contract refinement, code-review r14b).
        # CaseInsensitive lowers both sides.  CH returns UInt8 —
        # the boolean maps like the rest of the has* family.
        h, n = args
        if "CaseInsensitive" in name:
            h, n = f"lower({h})", f"lower({n})"
        return (
            f"(aggregate(split({h}, ''), 0, (__hq, __hc) -> "
            f"IF(__hq < length({n}) AND __hc = "
            f"substr({n}, __hq + 1, 1), __hq + 1, __hq)) "
            f"= length({n}))"
        )
    if name == "sparseGrams":
        raise DialectError(
            "sparseGrams: the segment boundaries are defined by "
            "ClickHouse's internal n-gram hash comparisons — "
            "tokens()/arrayShingles/ngrams cover tokenization"
        )
    if name == "UUIDv7ToDateTime" and len(args) in (1, 2):
        # the first 48 UUIDv7 bits are unix milliseconds (RFC 9562)
        # — strip dashes, hex-fold the 12 leading nibbles (r14
        # batch 25; the ULIDStringToDateTime precedent).  CH guards
        # the VERSION nibble: a non-v7 uuid answers the DateTime64
        # zero (1970-01-01), not a bogus decode of random bits
        # (code-review r14b) — nibble 13 of the dashless hex is the
        # version field.  Only the UTC timezone form maps (session
        # pinned UTC).
        if len(args) == 2:
            tz = args[1].strip().strip("'\"")
            if tz not in ("UTC", "Etc/UTC", "Universal"):
                raise DialectError(
                    "UUIDv7ToDateTime: only the 'UTC' timezone form "
                    "maps (session time zone is pinned UTC)"
                )
        return (
            f"element_at(transform(array(translate({args[0]}, "
            f"'-', '')), __u7 -> IF(substr(__u7, 13, 1) = '7', "
            f"timestamp_millis(CAST(conv(substr(__u7, 1, 12), "
            f"16, 10) AS BIGINT)), timestamp_millis(0))), 1)"
        )
    if name == "hasSubstr" and len(args) == 2:
        # element-wise <=> instead of whole-array = : scalar
        # comparison coerces mixed numeric element types (a DECIMAL
        # literal needle against a DOUBLE column), array equality
        # does not; <=> also matches CH's NULL-equals-NULL rule
        a, b = args
        win = (
            f"forall(zip_with(slice({a}, __i, size({b})), {b}, "
            f"(__p, __q) -> __p <=> __q), __e -> __e)"
        )
        return (
            f"(CASE WHEN size({b}) = 0 THEN true "
            f"WHEN size({a}) < size({b}) THEN false "
            f"ELSE exists(sequence(1, size({a}) - size({b}) + 1), "
            f"__i -> {win}) END)"
        )
    if name == "toWeek" and len(args) in (1, 2):
        d = args[0]
        mode = args[1].strip() if len(args) == 2 else "0"
        if mode == "3":
            return f"extract(WEEK FROM {d})"
        if mode == "0":
            # MySQL WEEK(d, 0): Sunday-start, week 0 for days before
            # the year's first Sunday (unlike toYearWeek's carryover)
            s = f"date_sub({d}, dayofweek({d}) - 1)"
            return (
                f"(CASE WHEN year({s}) < year({d}) THEN 0 ELSE "
                f"CAST(floor((dayofyear({s}) - 1) / 7) AS INT) + 1 "
                f"END)"
            )
        raise DialectError(
            f"toWeek mode {mode} is not transpiled (0 = Sunday-start "
            "with week 0, 3 = ISO are)"
        )
    if name == "toModifiedJulianDay" and len(args) == 1:
        return f"datediff(CAST({args[0]} AS DATE), DATE'1858-11-17')"
    if name == "fromModifiedJulianDay" and len(args) == 1:
        return f"date_add(DATE'1858-11-17', CAST({args[0]} AS INT))"
    if name in ("leftPadUTF8", "rightPadUTF8") and len(args) in (2, 3):
        fn = "lpad" if name.startswith("left") else "rpad"
        return f"{fn}({joined})"  # Spark strings are UTF-8 native
    if name == "mapConcat" and len(args) >= 2:
        # key collisions: Spark's map_concat raises under the default
        # EXCEPTION dedup policy — loud, never silently divergent;
        # the merge spelling is mapUpdate (last-wins, already mapped)
        return f"map_concat({joined})"
    if name == "mapConcat" and len(args) == 1:
        return f"({args[0]})"  # single-map form is the identity
    if name in ("lowerUTF8", "upperUTF8") and len(args) == 1:
        # Spark's lower/upper are Unicode-aware (JVM strings)
        fn = "lower" if name.startswith("lower") else "upper"
        return f"{fn}({args[0]})"
    if name == "format" and len(args) >= 2 and args[0][:1] in "'\"":
        # CH format('{} {}', a, b) — {}/{n} placeholders.  Spark's
        # format_string is printf-style: rewrite the LITERAL pattern
        # ({} → %s in order, {n} → %<n+1>$s, % escaped); dynamic
        # patterns refuse (the placeholder walk needs the literal)
        pat = args[0][1:-1]
        out_parts: list[str] = []
        idx = 0
        j = 0
        while j < len(pat):
            c = pat[j]
            if c == "%":
                out_parts.append("%%")
                j += 1
            elif c == "{":
                k = pat.find("}", j)
                if k < 0:
                    raise DialectError(
                        "format: unbalanced '{' in the pattern"
                    )
                inner = pat[j + 1:k].strip()
                if inner == "":
                    out_parts.append("%s")
                    idx += 1
                elif inner.isdigit():
                    out_parts.append(f"%{int(inner) + 1}$s")
                else:
                    raise DialectError(
                        "format: only {} and {n} placeholders map "
                        "(named placeholders have no format_string "
                        "spelling)"
                    )
                j = k + 1
            else:
                out_parts.append(c)
                j += 1
        newpat = "".join(out_parts)
        rest = ", ".join(args[1:])
        return f"format_string('{newpat}', {rest})"
    if name == "format" and len(args) >= 2:
        raise DialectError(
            "format needs a literal pattern (the {} placeholder walk "
            "happens at transpile time) — use format_string directly "
            "for dynamic printf patterns"
        )
    if name == "toUUID" and len(args) == 1:
        s0 = args[0]
        return (
            f"(CASE WHEN {s0} RLIKE "
            "'^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
            "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$' "
            f"THEN lower({s0}) ELSE CAST(raise_error("
            f"'toUUID: invalid UUID string') AS STRING) END)"
        )
    if name == "hasToken" and len(args) == 2:
        s0, tok = args
        if tok[:1] not in "'\"":
            raise DialectError(
                "hasToken needs a literal token (ClickHouse requires "
                "a constant too); use regexp_like with boundary "
                "guards for dynamic needles"
            )
        body = tok[1:-1]
        # CH tokenizes on ALL non-alphanumeric ASCII — underscore is
        # a separator, not a token char (ADVICE r8): hasToken(
        # 'foo_bar', 'foo') = 1, and 'foo_bar' is an invalid needle
        if not (body.isascii() and body.isalnum()):
            raise DialectError(
                "hasToken: the needle must be a single token "
                "(ASCII alphanumeric only — ClickHouse splits on "
                "every non-alphanumeric byte, including '_')"
            )
        # boundary = ASCII non-alphanumeric ONLY: non-ASCII bytes are
        # token characters in CH (ADVICE r9 — hasToken('fooé','foo')
        # is 0 there), so the lookarounds must also reject a non-ASCII
        # neighbor, not just [0-9A-Za-z].  Spelled as a second
        # negative lookaround on [^\x00-\x7F] (char-level is
        # equivalent to CH's byte-level test: a non-ASCII char is
        # exactly a maximal run of non-ASCII bytes).
        return (
            f"regexp_like({s0}, '(?<![0-9A-Za-z])(?<![^\\\\x00-\\\\x7F])"
            f"{body}(?![0-9A-Za-z])(?![^\\\\x00-\\\\x7F])')"
        )
    if name == "formatReadableDecimalSize" and len(args) == 1:
        x = args[0]
        units = "array('B', 'KB', 'MB', 'GB', 'TB', 'PB', 'EB')"
        p = (
            f"CAST(least(greatest(floor(log(1000, "
            f"greatest(abs(CAST({x} AS DOUBLE)), 1.0))), 0), 6) AS INT)"
        )
        return (
            f"concat(format_string('%.2f', CAST({x} AS DOUBLE) / "
            f"power(1000, {p})), ' ', element_at({units}, {p} + 1))"
        )
    if name == "arrayReduce" and len(args) >= 2:
        # arrayReduce('agg', arr): the common aggregate heads map to
        # their row-local array folds (same policies as the arrayX
        # spellings: sum/avg accumulate in DOUBLE); parametric or
        # multi-array heads refuse with the spell-it-directly pointer
        head = args[0].strip().strip("'\"")
        a = args[1]
        if len(args) == 2:
            forms = {
                "sum": (
                    f"aggregate({a}, CAST(0 AS DOUBLE), "
                    "(__acc, __x) -> __acc + __x)"
                ),
                "min": f"array_min({a})",
                "max": f"array_max({a})",
                "avg": (
                    f"CASE WHEN size({a}) = 0 THEN NULL ELSE "
                    f"aggregate({a}, CAST(0 AS DOUBLE), "
                    f"(__acc, __x) -> __acc + __x) / size({a}) END"
                ),
                "count": f"size({a})",
                "uniqExact": f"size(array_distinct({a}))",
                "any": f"try_element_at({a}, 1)",
                "anyLast": f"try_element_at({a}, -1)",
                "groupArray": a,
                "groupUniqArray": f"array_distinct({a})",
            }
            if head in forms:
                return forms[head]
        raise DialectError(
            f"arrayReduce({args[0]}, …): only the plain single-array "
            "heads map (sum/min/max/avg/count/uniqExact/any/anyLast/"
            "groupArray/groupUniqArray) — spell parametric or "
            "multi-array reductions with the array functions directly "
            "(arraySum, quantiles via array_sort + element_at)"
        )
    if name == "countDigits" and len(args) == 1:
        # decimal digits excluding sign and point (CH counts a
        # Decimal's integer+fraction digits together)
        return (
            f"length(translate(CAST({args[0]} AS STRING), '-.', ''))"
        )
    if name == "arrayNormalizedGini":
        raise DialectError(
            "arrayNormalizedGini: the normalized-Gini ranking "
            "coefficient has no Spark register here — arrayAUC / "
            "arrayROCAUC transpile for ranking quality, or compute "
            "the Lorenz sums explicitly over array_sort"
        )
    if name.endswith("Resample"):
        raise DialectError(
            f"{name}: -Resample is parametric — write "
            f"{name}(start, stop, step)(args…, key) (the two-list "
            "spelling transpiles to one -If aggregate per bucket, "
            "r11), or GROUP BY intDiv(key - start, step) directly"
        )
    if name.startswith("multiFuzzyMatch"):
        raise DialectError(
            f"{name}: fuzzy regex matching is a Hyperscan-specific "
            "register — ngramSearch/ngramDistance transpile for "
            "fuzzy containment, operators/fuzzy.py for distributed "
            "fuzzy joins"
        )
    if name == "parseTimeDelta" and len(args) == 1:
        lit = args[0]
        if lit[:1] not in "'\"":
            raise DialectError(
                "parseTimeDelta needs a literal duration string; "
                "compute dynamic durations with arithmetic on "
                "toIntervalSecond/Minute/Hour"
            )
        import re as _re

        total, pos0 = 0.0, 0
        body = lit[1:-1]
        unit_s = {
            "s": 1, "sec": 1, "second": 1, "seconds": 1,
            "m": 60, "min": 60, "minute": 60, "minutes": 60,
            "h": 3600, "hr": 3600, "hour": 3600, "hours": 3600,
            "d": 86400, "day": 86400, "days": 86400,
            "w": 604800, "week": 604800, "weeks": 604800,
        }
        for mm in _re.finditer(
            r"\s*(\d+(?:\.\d+)?)\s*([a-zA-Z]+)\s*", body
        ):
            if mm.start() != pos0:
                raise DialectError(
                    f"parseTimeDelta: unrecognized text in {body!r}"
                )
            pos0 = mm.end()
            unit = mm.group(2).lower()
            if unit not in unit_s:
                raise DialectError(
                    f"parseTimeDelta: unknown unit {unit!r}"
                )
            total += float(mm.group(1)) * unit_s[unit]
        if pos0 != len(body) or pos0 == 0:
            raise DialectError(
                f"parseTimeDelta: cannot parse {body!r}"
            )
        return f"CAST({total} AS DOUBLE)"
    if name == "multiSearchFirstIndex" and len(args) >= 2:
        s0 = args[0]
        needles = ", ".join(args[1:]) if len(args) > 2 else None
        arr = f"array({needles})" if needles else args[1]
        if arr.startswith("["):
            arr = f"array({arr[1:-1]})"
        pairs = (
            f"zip_with(transform({arr}, __n -> instr({s0}, __n)), "
            f"sequence(1, size({arr})), "
            f"(__p, __i) -> named_struct('p', __p, 'i', __i))"
        )
        return (
            f"coalesce(try_element_at(array_sort(filter({pairs}, "
            f"__e -> __e.p > 0)), 1).i, 0)"
        )
    if name in ("nonNegativeDerivative",
                "runningDifferenceStartingWithFirstValue"):
        raise DialectError(
            f"{name} depends on ClickHouse block boundaries "
            "(non-deterministic there); write the window spelling — "
            "(x - lagInFrame(x, 1) OVER (ORDER BY ts)) scaled by the "
            "time delta"
        )
    if name == "nowInBlock":
        raise DialectError(
            "nowInBlock varies per ClickHouse block (explicitly "
            "non-deterministic); use now() — which transpiles — for "
            "a query-constant timestamp"
        )
    if name == "serverUUID" and not args:
        raise DialectError(
            "serverUUID() identifies a ClickHouse server instance; "
            "there is no server here — derive an environment id from "
            "spark.conf (spark.app.id) if needed"
        )
    if name == "mapApply" and len(args) == 2:
        # mapApply((k, v) -> (k', v'), m): the lambda returns a (k, v)
        # TUPLE, which Spark's two-arg map HOFs (transform_keys /
        # transform_values) can't model jointly — rewrite over the
        # entry array instead: map_from_entries(transform(map_entries
        # (m), e -> struct(k', v'))) with the lambda's parameter
        # identifiers substituted by e.key / e.value (token-level, so
        # nested rewrites inside the body are preserved).
        return _rewrite_map_apply(args[0], args[1])
    if name == "mapApply":
        raise DialectError(
            "mapApply takes exactly (lambda, map) — "
            "mapApply((k, v) -> (k2, v2), m)"
        )
    if name in (
        "ngramDistance", "ngramDistanceUTF8", "ngramSearch",
        "ngramSearchUTF8", "ngramDistanceCaseInsensitive",
        "ngramDistanceCaseInsensitiveUTF8",
        "ngramSearchCaseInsensitive", "ngramSearchCaseInsensitiveUTF8",
    ) and len(args) == 2:
        # ClickHouse's documented contracts over 4-gram MULTISETS:
        # distance = |symmetric difference| / (|A| + |B|); search =
        # |needle ∩ haystack| / |needle| ("how much of the needle is
        # in the haystack").  Computed EXACTLY here via character
        # 4-grams and row-local HOF folds (CH approximates with
        # hashed grams — same contract, collision-free refinement;
        # character grams ARE CH's UTF8 flavor, byte==char on ASCII).
        # O(G²) in the per-row gram count via the filter recount —
        # scalar-argument territory, like arrayAUC.  Degenerate
        # inputs (no 4-grams on the normalizing side) return NULL
        # (the SQL-idiomatic miss — CH's empty-input behavior is
        # version-specific); coalesce() to pin a value.
        h, n = args
        if "CaseInsensitive" in name:
            h, n = f"lower({h})", f"lower({n})"
        def grams(s: str) -> str:
            return (
                f"CASE WHEN length({s}) >= 4 THEN "
                f"transform(sequence(1, length({s}) - 3), "
                f"__i -> substring({s}, __i, 4)) "
                f"ELSE CAST(array() AS ARRAY<STRING>) END"
            )
        ga, gb = grams(h), grams(n)
        base = (
            f"transform(array(struct({ga} AS a, {gb} AS b)), __g -> "
        )
        if name.startswith("ngramDistance"):
            body = (
                "CASE WHEN size(__g.a) + size(__g.b) = 0 THEN "
                "CAST(NULL AS DOUBLE) ELSE "
                "aggregate(array_distinct(concat(__g.a, __g.b)), "
                "0.0D, (__acc, __x) -> __acc + abs("
                "size(filter(__g.a, __y -> __y = __x)) - "
                "size(filter(__g.b, __y -> __y = __x)))) "
                "/ (size(__g.a) + size(__g.b)) END"
            )
        else:
            body = (
                "CASE WHEN size(__g.b) = 0 THEN CAST(NULL AS DOUBLE) "
                "ELSE aggregate(array_distinct(__g.b), 0.0D, "
                "(__acc, __x) -> __acc + least("
                "size(filter(__g.a, __y -> __y = __x)), "
                "size(filter(__g.b, __y -> __y = __x)))) "
                "/ size(__g.b) END"
            )
        return f"element_at({base}{body}), 1)"
    if name == "sumKahan" and len(args) == 1:
        # compensated float summation: the repo's decimal-exact sum IS
        # the deterministic superset of Kahan (operators/common.py)
        return f"CAST(sum(CAST({args[0]} AS DECIMAL(27, 6))) AS DOUBLE)"
    if name == "groupBitmap" and len(args) == 1:
        # CH returns the roaring-bitmap CARDINALITY — exact distinct
        return f"count(DISTINCT {args[0]})"
    if name == "maxIntersections" and len(args) == 2:
        # max number of simultaneously-overlapping [start, end)
        # intervals: classic sweep — ±1 deltas sorted by point (ends
        # before starts at ties: struct sort puts d=-1 first), one
        # running-max fold; bounded per-group state, codegen HOFs
        s0, e0 = args
        pts = (
            f"sort_array(flatten(collect_list(array("
            f"named_struct('p', CAST({s0} AS DOUBLE), 'd', 1), "
            f"named_struct('p', CAST({e0} AS DOUBLE), 'd', -1)))))"
        )
        return (
            f"aggregate({pts}, named_struct('c', 0, 'm', 0), "
            "(a, x) -> named_struct('c', a.c + x.d, "
            "'m', greatest(a.m, a.c + x.d)), "
            "a -> CAST(a.m AS BIGINT))"
        )
    if name == "maxIntersectionsPosition" and len(args) == 2:
        # the LEFTMOST sweep point where the overlap count reaches
        # its maximum (CH returns the start position of the peak) —
        # the same ±1 sweep as maxIntersections with an argmax carry;
        # strict > keeps the first peak on ties
        s0, e0 = args
        pts = (
            f"sort_array(flatten(collect_list(array("
            f"named_struct('p', CAST({s0} AS DOUBLE), 'd', 1), "
            f"named_struct('p', CAST({e0} AS DOUBLE), 'd', -1)))))"
        )
        return (
            f"aggregate({pts}, "
            "named_struct('c', 0, 'm', 0, 'pos', "
            "CAST(NULL AS DOUBLE)), "
            "(a, x) -> named_struct('c', a.c + x.d, "
            "'m', greatest(a.m, a.c + x.d), "
            "'pos', IF(a.c + x.d > a.m, x.p, a.pos)), "
            "a -> a.pos)"
        )
    if name == "intervalLengthSum" and len(args) == 2:
        # total length of the UNION of [start, end] intervals
        # (overlaps merged, empty/inverted intervals contribute 0):
        # sort by start, one sweep fold carrying (total, cur_end) —
        # bounded per-group state, codegen HOFs; values accumulate in
        # DOUBLE (the arraySum policy)
        s0, e0 = args
        iv = (
            f"sort_array(collect_list(named_struct("
            f"'s', CAST({s0} AS DOUBLE), 'e', CAST({e0} AS DOUBLE))))"
        )
        return (
            f"aggregate({iv}, "
            "named_struct('t', CAST(0 AS DOUBLE), "
            "'ce', CAST(NULL AS DOUBLE)), "
            "(a, x) -> named_struct("
            "'t', a.t + greatest(CAST(0 AS DOUBLE), "
            "x.e - greatest(x.s, coalesce(a.ce, x.s))), "
            "'ce', greatest(coalesce(a.ce, x.e), x.e)), "
            "a -> a.t)"
        )
    if name == "toUnixTimestamp" and len(args) == 1:
        return f"unix_timestamp({args[0]})"
    if name == "countSubstringsCaseInsensitive" and len(args) == 2:
        return _render_call(
            "countSubstrings", [f"lower({args[0]})", f"lower({args[1]})"]
        )
    if name in (
        "startsWithCaseInsensitive", "endsWithCaseInsensitive",
    ) and len(args) == 2:
        # batch 19: lowercase both sides (Unicode lower, a documented
        # refinement of CH's ASCII-only non-UTF8 tier)
        fn = "startswith" if name.startswith("starts") else "endswith"
        return f"{fn}(lower({args[0]}), lower({args[1]}))"
    if name in ("startsWithUTF8", "endsWithUTF8") and len(args) == 2:
        # Spark strings are UTF-8 native — same function
        fn = "startswith" if name.startswith("starts") else "endswith"
        return f"{fn}({args[0]}, {args[1]})"
    if name == "extractURLParameters" and len(args) == 1:
        return (
            f"filter(split(parse_url({args[0]}, 'QUERY'), '&'), "
            f"__up -> __up != '')"
        )
    if name == "extractURLParameterNames" and len(args) == 1:
        return (
            f"transform(filter(split(parse_url({args[0]}, 'QUERY'), "
            f"'&'), __up -> __up != ''), "
            f"__up -> element_at(split(__up, '='), 1))"
        )
    if name in ("URLHierarchy", "URLPathHierarchy"):
        raise DialectError(
            f"{name}: ClickHouse's prefix-ladder boundary rules "
            "(/?# handling, trailing-separator inclusion) are "
            "engine-version-specific — build the ladder explicitly "
            "from path()/splitByChar('/', …) prefixes"
        )
    if name == "cutToFirstSignificantSubdomainWithWWW" and len(args) == 1:
        # same cut as cutToFirstSignificantSubdomain, keeping a www.
        # prefix when it directly precedes the cut
        host = f"parse_url({args[0]}, 'HOST')"
        cut = _render_call("cutToFirstSignificantSubdomain", args)
        return (
            f"element_at(transform(array({cut}), __cw -> "
            f"IF({host} = concat('www.', __cw), "
            f"concat('www.', __cw), __cw)), 1)"
        )
    if name == "arrayEnumerateDense" and len(args) == 1:
        # index of each value's FIRST occurrence among the distinct
        # values, in first-appearance order — exactly array_position
        # over array_distinct (both 1-based)
        return (
            f"element_at(transform(array({args[0]}), __ae -> "
            f"transform(__ae, __av -> CAST(array_position("
            f"array_distinct(__ae), __av) AS INT))), 1)"
        )
    if name == "arrayEnumerateUniq" and len(args) == 1:
        # per-value occurrence counter (1st, 2nd, … of each value) —
        # row-local O(n²) prefix count, the documented lambda class;
        # the empty-array guard avoids sequence(1, 0)'s descending
        # ramp
        return (
            f"element_at(transform(array({args[0]}), __ae -> "
            f"CASE WHEN size(__ae) = 0 THEN CAST(array() AS "
            f"ARRAY<INT>) ELSE "
            f"transform(sequence(1, size(__ae)), __ai -> "
            f"CAST(size(filter(slice(__ae, 1, __ai), "
            f"__ax -> __ax = element_at(__ae, __ai))) AS INT)) "
            f"END), 1)"
        )
    if name == "arrayElementOrNull" and len(args) == 2:
        return f"try_element_at({args[0]}, {args[1]})"
    if name == "timeDiff" and len(args) == 2:
        # t2 − t1 in whole seconds (CH truncates to the second grid)
        return (
            f"(unix_timestamp({args[1]}) - unix_timestamp({args[0]}))"
        )
    if name in ("addMilliseconds", "addMicroseconds",
                "subtractMilliseconds", "subtractMicroseconds") \
            and len(args) == 2:
        unit = ("MILLISECOND" if "Milli" in name else "MICROSECOND")
        n = args[1] if name.startswith("add") else f"-({args[1]})"
        return f"timestampadd({unit}, {n}, {args[0]})"
    if name in ("addNanoseconds", "subtractNanoseconds"):
        raise DialectError(
            f"{name}: Spark timestamps are microsecond-resolution — "
            "sub-micro arithmetic would silently truncate"
        )
    if name == "serverTimezone" and not args:
        return "current_timezone()"
    if name in ("toUTCTimestamp", "fromUTCTimestamp") and len(args) == 2:
        # CH added these AS Spark-compat functions — identical
        # contract to Spark's to_utc_timestamp/from_utc_timestamp
        fn = ("to_utc_timestamp" if name.startswith("to")
              else "from_utc_timestamp")
        return f"{fn}({args[0]}, {args[1]})"
    if name == "YYYYMMDDToDate32" and len(args) == 1:
        return _render_call("YYYYMMDDToDate", args)  # one DATE type
    if name == "YYYYMMDDhhmmssToDateTime64" and len(args) == 1:
        return _render_call("YYYYMMDDhhmmssToDateTime", args)
    if name == "YYYYMMDDToDate" and len(args) == 1:
        # invalid numbers yield NULL (Spark's parse-miss marker; CH
        # yields its zero date — the documented miss-value divergence
        # class, same as arrayFirst/subscripts)
        return (
            f"try_to_date(CAST(CAST({args[0]} AS BIGINT) AS STRING), "
            "'yyyyMMdd')"
        )
    if name == "YYYYMMDDhhmmssToDateTime" and len(args) == 1:
        return (
            f"try_to_timestamp(CAST(CAST({args[0]} AS BIGINT) AS "
            "STRING), 'yyyyMMddHHmmss')"
        )
    if name == "toDateTime64" and len(args) == 2:
        try:
            prec = int(args[1])
        except ValueError:
            raise DialectError(
                "toDateTime64 precision must be a literal integer"
            )
        if prec > 6:
            raise DialectError(
                "toDateTime64 precision > 6: Spark timestamps are "
                "microsecond-resolution — sub-micro digits would "
                "silently truncate"
            )
        return f"CAST({args[0]} AS TIMESTAMP)"
    if name in ("mapExists", "mapAll") and len(args) == 2:
        # lambda-first → map-first rotation; run the predicate
        # through Spark's native map_filter so the (k, v) lambda
        # passes through untouched
        lam, m = args
        sz = f"size(map_filter({m}, {lam}))"
        if name == "mapExists":
            return f"({sz} > 0)"
        return f"({sz} = size({m}))"
    if name in ("mapSort", "mapReverseSort") and len(args) == 1:
        ents = f"sort_array(map_entries({args[0]}))"
        if name == "mapReverseSort":
            ents = f"reverse({ents})"
        return f"map_from_entries({ents})"
    if name in ("mapPartialSort", "mapPartialReverseSort"):
        raise DialectError(
            f"{name}: the limit-sort leaves the tail order "
            "UNSPECIFIED (CH documents it as arbitrary) — use "
            "mapSort/mapReverseSort for the deterministic full sort"
        )
    if name.startswith("minSampleSize"):
        # prefix match (r11 audit batch 11): CH spells both
        # minSampleSizeContinuous AND the historical
        # minSampleSizeContinous — a name-list check let the
        # misspelled alias pass through silently
        raise DialectError(
            f"{name}: needs normal quantiles of runtime power/alpha "
            "arguments (no Catalyst inverse-CDF); for literal "
            "confidence the meanZTest transpile-time fold pattern "
            "applies — compute the closed form in the caller"
        )
    if name == "toTime" and len(args) == 1:
        # CH: move the time-of-day onto the fixed date 1970-01-02
        return (
            f"timestamp(concat('1970-01-02 ', "
            f"date_format({args[0]}, 'HH:mm:ss')))"
        )
    if name == "ifNotFinite" and len(args) == 2:
        x, y = args
        return (
            f"IF(isnan({x}) OR abs({x}) = CAST('Infinity' AS DOUBLE), "
            f"{y}, {x})"
        )
    if name == "roundToExp2" and len(args) == 1:
        # CH: < 1 → 0, else round DOWN to the nearest power of two
        # (log2 of an exact power of two is exact in IEEE, so the
        # floor boundary is stable)
        x = args[0]
        return (
            f"CAST(IF(({x}) < 1, 0, pow(2, floor(log2({x})))) "
            "AS BIGINT)"
        )
    if name == "roundDuration" and len(args) == 1:
        # CH's fixed duration ladder (seconds), rounded down
        x = args[0]
        ladder = [36000, 18000, 7200, 3600, 1800, 1200, 600, 300,
                  240, 180, 120, 60, 30, 10, 1]
        whens = " ".join(
            f"WHEN ({x}) >= {v} THEN {v}" for v in ladder
        )
        return f"(CASE {whens} ELSE 0 END)"
    if name == "roundAge" and len(args) == 1:
        # CH's fixed age buckets
        x = args[0]
        return (
            f"(CASE WHEN ({x}) < 1 THEN 0 WHEN ({x}) <= 17 THEN 17 "
            f"WHEN ({x}) <= 24 THEN 18 WHEN ({x}) <= 34 THEN 25 "
            f"WHEN ({x}) <= 44 THEN 35 WHEN ({x}) <= 54 THEN 45 "
            "ELSE 55 END)"
        )
    if name == "toUUIDOrNull" and len(args) == 1:
        # UUID maps to STRING (ddl type map); validate + normalize
        s0 = args[0]
        return (
            f"CASE WHEN {s0} RLIKE "
            "'^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
            "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$' "
            f"THEN lower({s0}) END"
        )
    if name == "mapExtractKeyLike" and len(args) == 2:
        return f"map_filter({args[0]}, (k, v) -> k LIKE {args[1]})"
    if name in ("mapAdd", "mapSubtract") and len(args) == 2:
        # Map-typed form: union keys, sum/subtract values (missing=0)
        a, b = args
        op = "+" if name == "mapAdd" else "-"
        return (
            f"map_zip_with({a}, {b}, "
            f"(k, x, y) -> coalesce(x, 0) {op} coalesce(y, 0))"
        )
    if name == "JSONExtractKeysAndValues" and len(args) == 2:
        from clickhouse_vs_dbt_spark.ddl import convert_type

        t = convert_type(args[1].strip().strip("'"))
        return (
            f"map_entries(from_json({args[0]}, "
            f"'map<string, {t.lower()}>'))"
        )
    if name == "greatCircleDistance" and len(args) == 4:
        # haversine on ClickHouse's spherical model (R documented in
        # its geo reference); args are (lon1, lat1, lon2, lat2) in
        # degrees, result meters
        lon1, lat1, lon2, lat2 = args
        hav = (
            f"pow(sin(radians(({lat2}) - ({lat1})) / 2), 2) + "
            f"cos(radians({lat1})) * cos(radians({lat2})) * "
            f"pow(sin(radians(({lon2}) - ({lon1})) / 2), 2)"
        )
        return f"(2 * 6372797.560856 * asin(sqrt({hav})))"
    if name == "boundingRatio" and len(args) == 2:
        # slope between the leftmost and rightmost (x, y) points;
        # try_divide: a zero x-range yields NULL instead of an ANSI
        # divide-by-zero error (CH yields nan — NULL is the
        # deterministic Spark-typed analog)
        x, y = args
        return (
            f"try_divide(max_by({y}, {x}) - min_by({y}, {x}), "
            f"max({x}) - min({x}))"
        )
    if name in (
        "runningDifference", "runningAccumulate", "neighbor",
        "rowNumberInAllBlocks", "runningConcurrency",
    ):
        raise DialectError(
            f"{name} depends on ClickHouse block boundaries "
            "(explicitly non-deterministic there); write the window "
            "spelling — e.g. x - lagInFrame(x, 1) OVER (ORDER BY …) "
            "/ sum(x) OVER (ORDER BY … ROWS UNBOUNDED PRECEDING) / "
            "row_number() OVER (ORDER BY …)"
        )
    if name in (
        "deltaSum", "deltaSumTimestamp", "groupArrayMovingSum",
        "groupArrayMovingAvg", "deltaSumIf", "deltaSumTimestampIf",
    ):
        raise DialectError(
            f"{name} is order-dependent inside an aggregate (ClickHouse "
            "evaluates it in insertion order, which a distributed "
            "engine does not preserve); write the window spelling "
            "over an explicit ORDER BY, or use the events_delta_sum "
            "operator (operators/aggfns.py) for the scalable two-pass "
            "lag plan"
        )
    if name == "largestTriangleThreeBuckets":
        raise DialectError(
            "largestTriangleThreeBuckets: use the events_lttb_downsample "
            "operator (operators/timeseries.py) — exact-integer LTTB "
            "with a value-checked oracle"
        )
    if name == "exponentialMovingAverage":
        raise DialectError(
            "exponentialMovingAverage is order-dependent inside an "
            "aggregate; use the keyed time-series operators "
            "(operators/timeseries.py) or a window recurrence"
        )
    if name in ("studentTTest", "welchTTest") and len(args) == 2:
        # Two-sample t-tests are FLAT aggregates (five conditional
        # power sums), so they rewrite inline — CH returns
        # Tuple(t, p); here a named struct ('t_stat','p_value') that
        # positional ``.1``/``.2`` access still reaches via the
        # _rewrite_tuple_index pass.  Sums accumulate as exact
        # DECIMAL(38,6) (associative — partitioning-independent
        # results; quantizes the sample to 6 decimals, the
        # operators/stats.py _ttest_sql contract); the p-value is the
        # exact Student-t two-sided tail via the regularized
        # incomplete beta (compat.py ch_t_pvalue, an Arrow UDF that
        # runs once per OUTPUT group row, never per input row).
        x, raw_ind = args
        # CH's sample_index is UInt8 0/1 and booleans are UInt8 —
        # normalize once so `event_type = 'x'` works as an index
        ind = f"CAST(({raw_ind}) AS INT)"
        d = "DECIMAL(38,6)"
        n0 = f"CAST(count_if(({ind}) = 0) AS DOUBLE)"
        n1 = f"CAST(count_if(({ind}) = 1) AS DOUBLE)"
        s0 = (f"CAST(sum(CASE WHEN ({ind}) = 0 THEN "
              f"CAST({x} AS {d}) END) AS DOUBLE)")
        s1 = (f"CAST(sum(CASE WHEN ({ind}) = 1 THEN "
              f"CAST({x} AS {d}) END) AS DOUBLE)")
        q0 = (f"CAST(sum(CASE WHEN ({ind}) = 0 THEN "
              f"CAST(({x}) * ({x}) AS {d}) END) AS DOUBLE)")
        q1 = (f"CAST(sum(CASE WHEN ({ind}) = 1 THEN "
              f"CAST(({x}) * ({x}) AS {d}) END) AS DOUBLE)")
        m0, m1 = f"(({s0}) / ({n0}))", f"(({s1}) / ({n1}))"
        v0 = f"((({q0}) - ({s0}) * ({s0}) / ({n0})) / (({n0}) - 1))"
        v1 = f"((({q1}) - ({s1}) * ({s1}) / ({n1})) / (({n1}) - 1))"
        if name == "studentTTest":
            sp2 = (f"(((({n0}) - 1) * ({v0}) + (({n1}) - 1) * ({v1}))"
                   f" / (({n0}) + ({n1}) - 2))")
            t = (f"((({m0}) - ({m1})) / sqrt(({sp2}) * "
                 f"(1.0 / ({n0}) + 1.0 / ({n1}))))")
            df = f"(({n0}) + ({n1}) - 2)"
        else:
            se0, se1 = f"(({v0}) / ({n0}))", f"(({v1}) / ({n1}))"
            t = f"((({m0}) - ({m1})) / sqrt(({se0}) + ({se1})))"
            df = (f"((({se0}) + ({se1})) * (({se0}) + ({se1})) / "
                  f"(({se0}) * ({se0}) / (({n0}) - 1) + "
                  f"({se1}) * ({se1}) / (({n1}) - 1)))")
        return (f"named_struct('t_stat', {t}, "
                f"'p_value', ch_t_pvalue({t}, {df}))")
    if name == "studentTTestOneSample" and len(args) == 2:
        # one-sample t-test against a population mean (r11 batch 12):
        # the same flat decimal power sums and exact Student tail as
        # the two-sample form above
        x, mu = args
        d = "DECIMAL(38,6)"
        n = f"CAST(count({x}) AS DOUBLE)"
        s = f"CAST(sum(CAST({x} AS {d})) AS DOUBLE)"
        q = f"CAST(sum(CAST(({x}) * ({x}) AS {d})) AS DOUBLE)"
        m = f"(({s}) / ({n}))"
        v = f"((({q}) - ({s}) * ({s}) / ({n})) / (({n}) - 1))"
        t = f"((({m}) - ({mu})) / sqrt(({v}) / ({n})))"
        df = f"(({n}) - 1)"
        return (f"named_struct('t_stat', {t}, "
                f"'p_value', ch_t_pvalue({t}, {df}))")
    if name in (
        "mannWhitneyUTest", "kolmogorovSmirnovTest",
        "cramersV", "cramersVBiasCorrected", "theilsU", "contingency",
        "entropy", "categoricalInformationValue", "rankCorr",
    ):
        raise DialectError(
            f"{name}: two-level statistics (per-value counts/ranks "
            "feeding a global statistic) — use the gated operators: "
            "stats_mann_whitney (rank-sum over distinct-value "
            "counts), stats_ks_test (ECDF max-gap + asymptotic "
            "Kolmogorov tail), stats_categorical_assoc "
            "(cramersV[BiasCorrected] / theilsU / entropy / IV over "
            "the contingency table) and events_rank_corr (Spearman "
            "via two-pass range-partitioned ranking) in operators/; "
            "studentTTest/welchTTest transpile directly"
        )
    if name in (
        "stochasticLinearRegression", "stochasticLogisticRegression",
    ):
        raise DialectError(
            f"{name}: SGD training inside an aggregate is batch-order"
            "-dependent (CH documents the non-determinism) — "
            "simpleLinearRegression transpiles exactly (closed-form "
            "least squares), and operators/mlinfer.py serves scoring"
        )
    if name == "meanZTest":
        raise DialectError(
            "meanZTest is parametric — write "
            "meanZTest(variance_x, variance_y, confidence)(x, index) "
            "(which transpiles); for estimated variances use "
            "studentTTest/welchTTest"
        )
    if name.startswith(
        ("wordShingleMinHash", "ngramMinHash", "wordShingleSimHash",
         "ngramSimHash")
    ):
        raise DialectError(
            f"{name}: document-level near-dup hashing is the dedup "
            "operator family (operators/dedup.py: dedup_minhash_lsh, "
            "dedup_simhash) — sketch registers are not portable "
            "scalar values"
        )
    if name.startswith(
        ("h3", "geoToH3", "stringToH3", "geoToS2", "s2To", "s2Cap",
         "s2Rect", "s2Cell", "s2Get")
    ):
        raise DialectError(
            f"{name}: H3/S2 cell indexing needs the geo cell "
            "libraries (not in this environment) — geo_distance / "
            "greatCircleDistance and lat/lon grid bucketing "
            "(operators/geo.py) serve the spatial-join role"
        )
    if name in ("remote", "remoteSecure", "cluster", "clusterAllReplicas"):
        raise DialectError(
            f"{name}() addresses another ClickHouse server — point "
            "Spark at the data instead (register the table or use "
            "file()/s3() direct reads)"
        )
    if name == "COLUMNS":
        raise DialectError(
            "COLUMNS('regex') dynamic column selection has no Spark "
            "equivalent; list the columns (SELECT * EXCEPT (...) "
            "passes through)"
        )
    if name == "retention" and args:
        # retention(c1, …, cN): r[1] = any event matched c1;
        # r[i>1] = c1 matched AND ci matched (each on any event of the
        # group) — a product of per-condition max flags, one pass.
        first = f"max(CASE WHEN {args[0]} THEN 1 ELSE 0 END)"
        parts = [f"CAST({first} AS INT)"]
        for c in args[1:]:
            parts.append(
                f"CAST({first} * max(CASE WHEN {c} THEN 1 ELSE 0 END) "
                "AS INT)"
            )
        return f"array({', '.join(parts)})"
    if name in _CAST:
        return f"CAST({joined} AS {_CAST[name]})"
    if name.startswith("IPv4StringToNum") and name != "IPv4StringToNum":
        # OrNull/OrZero/OrDefault forms of the IPv4 parse (r11
        # batch 13) — route through the toIPv4 tier below
        return _render_call(
            "toIPv4" + name[len("IPv4StringToNum"):], args
        )
    if name in ("toIPv6", "IPv6StringToNum") or name.startswith(
        "IPv6StringToNum"
    ):
        raise DialectError(
            f"{name}: IPv6 values are 16-byte binaries with no Spark "
            "register — isIPv6String validates the string form; keep "
            "addresses as strings in this engine"
        )
    if (
        name.endswith(("OrZero", "OrNull", "OrDefault"))
        and name.startswith("to")
    ):
        # defensive-cast family (r11 batch 13): parse-or-fallback via
        # TRY_CAST, with the CH width-range guard for unsigned targets
        # whose Spark type is wider.  CH's parser is stricter than
        # Spark's cast on surrounding whitespace (' 1' parses here,
        # fails in CH) — documented; the failure DIRECTION (never an
        # exception, always the fallback) matches.
        suffix = next(
            s for s in ("OrDefault", "OrZero", "OrNull")
            if name.endswith(s)
        )
        base = name[: -len(suffix)]
        if base in ("toIPv4", "toIPv6"):
            if base == "toIPv6":
                raise DialectError(
                    f"{name}: IPv6 values are 16-byte binaries with "
                    "no Spark register — isIPv6String validates, "
                    "cutIPv6/IPv6NumToString-free pipelines keep the "
                    "string form"
                )
            # guard the numeric conversion with the RFC grammar
            valid = _render_call("isIPv4String", [args[0]])
            val = _render_call("toIPv4", [args[0]])
            v = f"(CASE WHEN {valid} THEN {val} END)"
            if suffix == "OrNull":
                return v
            dflt = args[1] if len(args) > 1 else "CAST(0 AS BIGINT)"
            return f"coalesce({v}, {dflt})"
        dec = {"toDecimal32": 9, "toDecimal64": 18,
               "toDecimal128": 38}.get(base)
        if dec is not None and len(args) >= 2:
            t, rng = f"DECIMAL({dec}, {args[1]})", None
            zero = f"CAST(0 AS {t})"
            x, dflt = args[0], args[2] if len(args) > 2 else None
        elif base == "toDateTime64" and len(args) >= 2:
            # CH: toDateTime64Or*(expr, SCALE[, timezone[, default]])
            # — the scale folds into Spark's fixed micros; a non-UTC
            # timezone refuses (session zone is pinned), and the
            # default is the FOURTH argument, never the second
            # (code-review r11b)
            if len(args) >= 3 and args[2].strip().strip(
                "'\""
            ).upper() != "UTC":
                raise DialectError(
                    f"{name}: only the 'UTC' timezone form maps "
                    "(session time zone is pinned UTC)"
                )
            t, rng, zero = _OR_CAST["toDateTime64"]
            x = args[0]
            dflt = args[3] if len(args) > 3 else None
        elif base == "toDateTime" and len(args) == 2:
            # CH: toDateTimeOr*(expr[, timezone[, default]]) — the
            # 2-arg form's second argument is a TIMEZONE, not the
            # default (code-review r11b)
            if args[1].strip().strip("'\"").upper() != "UTC":
                raise DialectError(
                    f"{name}: only the 'UTC' timezone form maps "
                    "(session time zone is pinned UTC)"
                )
            t, rng, zero = _OR_CAST["toDateTime"]
            x, dflt = args[0], None
        elif base == "toDateTime" and len(args) == 3:
            if args[1].strip().strip("'\"").upper() != "UTC":
                raise DialectError(
                    f"{name}: only the 'UTC' timezone form maps "
                    "(session time zone is pinned UTC)"
                )
            t, rng, zero = _OR_CAST["toDateTime"]
            x, dflt = args[0], args[2]
        elif base in _OR_CAST and len(args) in (1, 2):
            t, rng, zero = _OR_CAST[base]
            if len(args) == 2 and suffix != "OrDefault":
                raise DialectError(
                    f"{name}: the one-argument form maps — a second "
                    "argument here is a timezone/width CH feature "
                    "with no Spark analog"
                )
            x, dflt = args[0], args[1] if len(args) > 1 else None
        else:
            raise DialectError(
                f"{name}: the OrZero/OrNull/OrDefault tier covers "
                "the fixed-width numeric, Date[32], DateTime[64] and "
                "Decimal32/64/128 targets — other targets need an "
                "explicit TRY_CAST"
            )
        v = f"TRY_CAST({x} AS {t})"
        if rng is not None:
            v = (
                f"(CASE WHEN {v} BETWEEN {rng[0]} AND {rng[1]} "
                f"THEN {v} END)"
            )
        if suffix == "OrNull":
            return v
        if suffix == "OrDefault" and dflt is not None:
            return f"coalesce({v}, CAST({dflt} AS {t}))"
        return f"coalesce({v}, {zero})"
    if name == "toDecimal32" and len(args) == 2:
        return f"CAST({args[0]} AS DECIMAL(9, {args[1]}))"
    if name == "toDecimal64" and len(args) == 2:
        return f"CAST({args[0]} AS DECIMAL(18, {args[1]}))"
    if name == "toDecimal128" and len(args) == 2:
        # Spark's maximum DECIMAL precision (38) covers Decimal128's
        # full range (wave 3)
        return f"CAST({args[0]} AS DECIMAL(38, {args[1]}))"
    if name == "toDecimal256" and len(args) == 2:
        raise DialectError(
            "toDecimal256: 76-digit precision exceeds Spark's "
            "DECIMAL(38) ceiling — toDecimal128 (38 digits) "
            "transpiles"
        )
    if name in ("greatest", "least") and len(args) >= 2:
        # ClickHouse's standard regular-function contract
        # NULL-propagates: greatest(1, NULL) is NULL.  Spark's (and
        # DuckDB's) greatest/least SKIP NULLs — a silent value
        # divergence the wave-4 semantic sweep caught (r13c).
        # Token-level rewrites that pre-splice Spark SQL (sample
        # clause, PASTE bucketing) spell their own GREATEST/LEAST
        # UPPERCASE so re-rendering doesn't wrap them — CH's names
        # are case-sensitive, so uppercase can never be CH input.
        null_any = " OR ".join(f"({a}) IS NULL" for a in args)
        return (
            f"(CASE WHEN {null_any} THEN NULL "
            f"ELSE {name}({joined}) END)"
        )
    if name == "toLowCardinality" and len(args) == 1:
        # a storage-encoding hint; values unchanged (parenthesized —
        # a compound argument must keep its precedence, r13b)
        return f"({args[0]})"
    if name in ("lowCardinalityIndices", "lowCardinalityKeys"):
        raise DialectError(
            f"{name} introspects ClickHouse's per-part dictionary "
            "encoding — no Spark twin (columnar dictionaries are a "
            "parquet encoding detail); dense_rank() OVER (ORDER BY "
            "col) computes a portable dictionary index"
        )
    if name == "any" and len(args) == 1:
        # ClickHouse aggregates skip NULLs; Spark's any_value/last
        # retain them unless ignoreNulls is passed
        return f"any_value({args[0]}, true)"
    if name == "anyLast" and len(args) == 1:
        return f"last({args[0]}, true)"
    if name == "median" and len(args) == 1:
        # CH median is the approximate-quantile register at p=0.5
        return f"percentile_approx({args[0]}, 0.5)"
    if name == "medianExact" and len(args) == 1:
        return f"percentile({args[0]}, 0.5)"
    if name == "toDate32" and len(args) == 1:
        # Date32 only widens the representable range; Spark DATE
        # already covers it
        return f"CAST({args[0]} AS DATE)"
    if name == "substringIndexUTF8" and len(args) == 3:
        # substring_index is char-based already (the UTF8 seam)
        return f"substring_index({args[0]}, {args[1]}, {args[2]})"
    if name == "CRC64":
        raise DialectError(
            "CRC64 is a bit-compatibility checksum contract (the "
            "javaHash/hiveHash class) with no Spark register — "
            "crc32() maps for checksums, xxHash64 for role parity"
        )
    if name == "arrayShuffle" and len(args) == 2:
        # seeded form: DETERMINISTIC permutation by md5 rank of
        # (seed, position) — reproducible across engines where CH's
        # seeded RNG is engine-specific (the groupArraySample seeded
        # tier precedent); same multiset, stable given the seed
        a, seed = args
        return (
            f"transform(array_sort(transform({a}, (__e, __i) -> "
            f"named_struct('k', md5(concat(CAST({seed} AS STRING), "
            "':', CAST(__i AS STRING))), 'v', __e)), "
            "(__l, __r) -> CASE WHEN __l.k < __r.k THEN -1 "
            "WHEN __l.k > __r.k THEN 1 ELSE 0 END), __s -> __s.v)"
        )
    if name in (
        "medianTiming", "medianTDigest", "medianBFloat16",
    ) and len(args) == 1:
        # median* = the parametric quantile* register at p=0.5
        # (batch 23)
        return _render_parametric(
            "quantile" + name[len("median"):], ["0.5"], [args[0]],
        )
    if name in (
        "medianTimingIf", "medianTDigestIf", "medianBFloat16If",
    ) and len(args) == 2:
        # the -If combinator of the sketch twins (code-review r13i)
        return _render_parametric(
            "quantile" + name[len("median"):], ["0.5"], args,
        )
    if name == "medianExactWeightedIf" and len(args) == 3:
        # the -If twin of the exact-weighted median: condition masks
        # the value, the fold drops the NULL pair (code-review r14d)
        return _weighted_exact_quantile(
            f"CASE WHEN {args[2]} THEN {args[0]} END", args[1], "0.5",
        )
    if name == "medianDeterministic" and len(args) == 2:
        # (x, determinator) at p=0.5: the determinator only stabilizes
        # CH's sampling — percentile_approx is already deterministic
        return f"percentile_approx({args[0]}, 0.5)"
    if name == "medianIf" and len(args) == 2:
        return (
            f"percentile_approx(CASE WHEN {args[1]} THEN {args[0]} END, "
            "0.5)"
        )
    if name == "today" and not args:
        return "current_date()"
    if name == "yesterday" and not args:
        return "date_sub(current_date(), 1)"
    if name == "uniqExact":
        return f"count(DISTINCT {joined})"
    if name == "uniqExactIf" and len(args) >= 2:
        cond = args[-1]
        exprs = ", ".join(
            f"CASE WHEN {cond} THEN {a} END" for a in args[:-1]
        )
        return f"count(DISTINCT {exprs})"
    if name == "countIf":
        if len(args) == 1:
            return f"count_if({args[0]})"
        if len(args) == 2:  # countIf(x, cond): count non-NULL x where cond
            return f"count(CASE WHEN {args[1]} THEN {args[0]} END)"
    if name == "count" and not args:
        return "count(*)"  # ClickHouse's zero-arg count()
    if name == "numbers" and len(args) in (1, 2):
        # table function: numbers(n) / numbers(offset, n) → Spark's
        # range() relation with the column renamed to CH's `number`
        if len(args) == 1:
            return f"(SELECT id AS number FROM range({args[0]}))"
        return (
            f"(SELECT id AS number FROM range({args[0]}, "
            f"({args[0]}) + ({args[1]})))"
        )
    if name in (
        "generateSeries", "generate_series",
    ) and len(args) in (2, 3):
        # table function (batch 21): INCLUSIVE [start, stop] with
        # optional step — sequence() is inclusive too; the column is
        # named generate_series (CH names it after the spelling
        # used; this register emits the snake name for both).
        # An empty range (stop < start, positive step) yields zero
        # rows, matching CH.
        step = args[2] if len(args) == 3 else "1"
        # lazy, partitioned range() like the numbers() register (a
        # sequence()-array form materialized the whole range on one
        # row — code-review r13g); range()'s exclusive end becomes
        # inclusive via +-1, and an inverted range yields zero rows
        # natively, matching CH
        return (
            f"(SELECT id AS generate_series FROM range("
            f"{args[0]}, ({args[1]}) + (CASE WHEN ({step}) > 0 "
            f"THEN 1 ELSE -1 END), {step}))"
        )
    if name in ("file", "s3", "url") and len(args) >= 2:
        # table functions over external storage: self-describing
        # formats map to Spark's direct file query (``parquet.`path```
        # — the same Hadoop FileSystem resolution ENGINE=S3 uses).
        # Typed CSV needs a declared schema → transpile_ddl.
        fmt = args[-1].strip().strip("'").upper()
        path = args[0].strip().strip("'")
        fmt_map = {"PARQUET": "parquet", "ORC": "orc",
                   "JSONEACHROW": "json"}
        if fmt in fmt_map and len(args) in (2, 4):
            return f"{fmt_map[fmt]}.`{path}`"
        raise DialectError(
            f"{name}(...) table function: Parquet/ORC/JSONEachRow map "
            "to direct file queries; typed CSV (schema required) goes "
            "through transpile_ddl (ENGINE=S3) instead"
        )
    if name == "arrayUniq":
        if len(args) >= 2:
            # multi-array form: distinct TUPLES across parallel arrays
            return f"size(array_distinct(arrays_zip({joined})))"
        return f"size(array_distinct({joined}))"
    if name == "transform" and len(args) == 4:
        # ClickHouse's SCALAR transform(x, [from...], [to...], default)
        # — a value mapping, distinguished by arity from the 2-arg
        # array HOF that arrayMap rewrites to
        return (
            f"coalesce(try_element_at(map_from_arrays({args[1]}, "
            f"{args[2]}), {args[0]}), {args[3]})"
        )
    if name == "transform" and len(args) == 3:
        # the defaultless form: unmatched values pass through AS-IS
        # (CH requires x and to[] to share a type here)
        return (
            f"coalesce(try_element_at(map_from_arrays({args[1]}, "
            f"{args[2]}), {args[0]}), {args[0]})"
        )
    if name == "avgWeighted" and len(args) == 2:
        # weighted mean; accumulates in DOUBLE (the arraySum policy)
        x, w = args
        return (
            f"(sum(CAST(({x}) AS DOUBLE) * ({w})) / "
            f"sum(CAST(({w}) AS DOUBLE)))"
        )
    if name == "anyHeavyIf" and len(args) == 2:
        # -If combinator over the heavy-hitter pick (batch 23): mask
        # non-qualifying rows to NULL — the mode fold below ignores
        # NULL inputs like CH's -If row filter
        return _render_call(
            "anyHeavy", [f"(CASE WHEN {args[1]} THEN {args[0]} END)"],
        )
    if name == "anyHeavy" and len(args) == 1:
        # CH's heavy-hitter pick → Spark's exact mode (deterministic
        # refinement of "some frequent value")
        return f"mode({args[0]})"
    if name == "countEqual" and len(args) == 2:
        # <=>: CH counts NULL needles against NULL elements
        # (docs pin countEqual([1, 2, NULL, NULL], NULL) = 2) —
        # '=' would drop every NULL comparison (r15b)
        return (
            f"size(filter({args[0]}, __ce -> __ce <=> ({args[1]})))"
        )
    if name == "arrayAvg" and len(args) == 1:
        a = args[0]
        return (
            f"(aggregate({a}, CAST(0 AS DOUBLE), "
            f"(acc, x) -> acc + CAST(x AS DOUBLE)) / size({a}))"
        )
    if name == "arrayProduct" and len(args) == 1:
        return (
            f"aggregate({args[0]}, CAST(1 AS DOUBLE), "
            "(acc, x) -> acc * CAST(x AS DOUBLE))"
        )
    if name == "intDiv" and len(args) == 2:
        return f"(({args[0]}) DIV ({args[1]}))"
    if name == "intDivOrZero" and len(args) == 2:
        return (
            f"(CASE WHEN ({args[1]}) = 0 THEN 0 "
            f"ELSE ({args[0]}) DIV ({args[1]}) END)"
        )
    if name in (
        "divideOrNull", "intDivOrNull", "moduloOrNull",
    ) and len(args) == 2:
        # batch 18: NULL instead of the zero-divisor throw/inf
        a, b = args
        body = {
            "divideOrNull": f"({a}) / ({b})",
            "intDivOrNull": f"({a}) DIV ({b})",
            "moduloOrNull": f"({a}) % ({b})",
        }[name]
        return f"(CASE WHEN ({b}) = 0 THEN NULL ELSE {body} END)"
    if name == "bitAnd" and len(args) == 2:
        return f"(({args[0]}) & ({args[1]}))"
    if name == "bitOr" and len(args) == 2:
        return f"(({args[0]}) | ({args[1]}))"
    if name == "bitXor" and len(args) == 2:
        return f"(({args[0]}) ^ ({args[1]}))"
    if name == "bitNot" and len(args) == 1:
        return f"(~({args[0]}))"
    if name == "isFinite" and len(args) == 1:
        x = args[0]
        return (
            f"(NOT isnan({x}) AND abs({x}) != CAST('Infinity' AS DOUBLE))"
        )
    if name == "isInfinite" and len(args) == 1:
        return f"(abs({args[0]}) = CAST('Infinity' AS DOUBLE))"
    # --- r8 batch 9: SQL/JSON standard forms + typed/array extract ---
    if name == "length" and len(args) == 1:
        # CH length() is array-or-string; Spark's is string-only.
        # When the RENDERED argument is wholly one known
        # array-producing call (r14 — the readWKT* family made
        # length-of-array common), dispatch to size(); everything
        # else (columns, lambda vars, concats) keeps the string
        # reading — Spark's analyzer names the mismatch if the
        # value is really an array (MIGRATION.md)
        if _array_headed(args[0]):
            return f"size({args[0]})"
        return f"length({args[0]})"
    if name == "lengthUTF8" and len(args) == 1:
        return f"length({args[0]})"  # Spark length counts characters
    if name == "isValidUTF8" and len(args) == 1:
        # Spark STRING values are valid UTF-8 by construction (the
        # JVM/Arrow string types enforce it) — constant true with
        # NULL propagation; validate raw BYTES before casting if the
        # data arrives as binary
        s = args[0]
        return f"IF({s} IS NULL, CAST(NULL AS BOOLEAN), true)"
    if name == "JSON_VALUE" and len(args) == 2:
        # SQL/JSON scalar access — get_json_object returns unquoted
        # scalars like CH; CH yields '' on a miss where this yields
        # NULL (the SQL-idiomatic miss; coalesce(x, '') to pin)
        return f"get_json_object({args[0]}, {args[1]})"
    if name == "JSON_EXISTS" and len(args) == 2:
        return f"(get_json_object({args[0]}, {args[1]}) IS NOT NULL)"
    if name == "JSON_QUERY" and len(args) == 2:
        # Literal SIMPLE paths ($.key.key[0]…) run through the stdlib
        # path walk on PARSED values (compat.py ch_json_query, r10
        # stretch): exact quoting with no raw-text ambiguity — a
        # string scalar "5" keeps its quotes where get_json_object
        # could not tell it from the number 5.  JSONPath [n] is
        # 0-based; the walk is 1-based.
        m = re.fullmatch(
            r"['\"]\$((?:\.[A-Za-z_][A-Za-z0-9_]*|\[\d+\])*)['\"]",
            args[1].strip(),
        )
        if m is not None:
            import json as _j

            steps: list = []
            for key, idx in re.findall(
                r"\.([A-Za-z_][A-Za-z0-9_]*)|\[(\d+)\]", m.group(1)
            ):
                steps.append(key if key else int(idx) + 1)
            enc = _j.dumps(steps, ensure_ascii=False).replace("'", "''")
            return f"ch_json_query({args[0]}, '{enc}')"
        # Dynamic or wildcard paths fall back to get_json_object: CH
        # wraps every match in a one-element JSON array, and
        # get_json_object strips the quotes off string scalars, so a
        # bare extract of "world" would produce invalid JSON [world]
        # (ADVICE r8) — re-serialize anything that is not already a
        # JSON literal through to_json (Jackson re-escapes properly;
        # the {"q": prefix is 5 chars + the brace, value sits at 6).
        # Residual caveat (inherent to get_json_object, and only on
        # THIS fallback path since r10): a STRING scalar whose text
        # parses as a JSON number ("5") is indistinguishable from the
        # number 5 and stays unquoted.
        base = f"get_json_object({args[0]}, {args[1]})"
        req = f"to_json(named_struct('q', {base}))"
        lit = (
            f"({base} RLIKE '^[\\\\[{{]' OR {base} IN "
            f"('true', 'false', 'null') OR {base} RLIKE "
            f"'^-?(0|[1-9][0-9]*)(\\\\.[0-9]+)?([eE][+-]?[0-9]+)?$')"
        )
        return (
            f"CASE WHEN {base} IS NULL THEN NULL "
            f"WHEN {lit} THEN concat('[', {base}, ']') "
            f"ELSE concat('[', substring({req}, 6, "
            f"length({req}) - 6), ']') END"
        )
    if name == "JSONExtractArrayRaw" and len(args) >= 1 and all(
        a.startswith("'") and a.endswith("'") for a in args[1:]
    ):
        path = "$" + "".join("." + a[1:-1] for a in args[1:])
        arr = f"get_json_object({args[0]}, '{path}')"
        # element text re-serializes canonically (from_json round
        # trip) — same values, whitespace normalized (documented)
        return f"from_json({arr}, 'array<string>')"
    if name == "JSONExtract" and len(args) >= 3 and args[-1].startswith("'"):
        cht = args[-1].strip("'\"")
        from clickhouse_vs_dbt_spark.ddl import convert_type
        try:
            t = convert_type(cht)
        except Exception:
            t = None
        if t is None or t.upper().startswith(("STRUCT", "ARRAY", "MAP")):
            raise DialectError(
                f"JSONExtract to type {cht!r}: only scalar ClickHouse "
                "types map (a JSON string cannot CAST to a composite) "
                "— use from_json with an explicit Spark schema for "
                "structured extraction"
            )
        inner = _render_call("JSONExtractRaw", args[:-1])
        return f"CAST({inner} AS {t})"
    if name == "JSONExtractKeysAndValuesRaw" and len(args) >= 1:
        # key → raw compact JSON value at the (literal) path, document
        # order, via the stdlib path walk (VERDICT r9 item 6) — the
        # result is ARRAY<STRUCT<k,v>>, CH's Array(Tuple) shape
        steps = _literal_json_steps(args[1:])
        if steps is None:
            raise DialectError(
                "JSONExtractKeysAndValuesRaw: path steps must be "
                "literal strings/integers (the stdlib walk is encoded "
                "at transpile time; get_json_object paths are "
                "literal-only for the same reason)"
            )
        return f"ch_json_kv_raw({args[0]}, {steps})"
    if (
        name in _JSON_EXTRACT
        and len(args) >= 2
        and all(a.startswith("'") and a.endswith("'") for a in args[1:])
    ):
        # JSONExtract*(j, 'k1'[, 'k2', ...]) → get_json_object with a
        # $.k1.k2 path; the key chain must be literal (dynamic paths
        # have no Spark path-expression equivalent)
        path = "$." + ".".join(a[1:-1] for a in args[1:])
        base = f"get_json_object({args[0]}, '{path}')"
        cast = _JSON_EXTRACT[name]
        if cast == "BOOLEAN":
            # CH returns false for a non-bool value at the path —
            # a plain ANSI CAST would throw instead
            return f"coalesce(TRY_CAST({base} AS BOOLEAN), false)"
        return f"CAST({base} AS {cast})" if cast else base
    if name == "JSONHas" and len(args) >= 2 and all(
        a.startswith("'") for a in args[1:]
    ):
        path = "$." + ".".join(a[1:-1] for a in args[1:])
        return f"(get_json_object({args[0]}, '{path}') IS NOT NULL)"
    if name in _URL_PARTS and len(args) == 1:
        part, post = _URL_PARTS[name]
        expr = f"parse_url({args[0]}, '{part}')"
        return post.format(u=expr) if post else expr
    # empty-array guard for the index-spine family: Spark's
    # sequence(1, 0) yields the DESCENDING [1, 0] (ClickHouse returns
    # []), so the spine is built over greatest(size, 1) and sliced
    # back to size — slice(…, 1, 0) is the legal empty result
    if name == "arrayEnumerate" and len(args) == 1:
        a = args[0]
        return (
            f"slice(sequence(1, greatest(size({a}), 1)), 1, size({a}))"
        )
    if name == "arrayDifference" and len(args) == 1:
        # the shifted copy is built from slices only (slice(a, 1, 1)
        # is [] on an empty array; element_at(a, 1) would raise) and
        # the n-1 length is clamped at 0 (negative slice length is a
        # runtime error)
        a = args[0]
        return (
            f"zip_with({a}, concat(slice({a}, 1, 1), "
            f"slice({a}, 1, greatest(size({a}) - 1, 0))), "
            f"(__x, __y) -> __x - __y)"
        )
    if name == "arrayCumSum" and len(args) == 1:
        # prefix sums in ONE left fold: each step appends running
        # total + x (try_element_at(-1) reads the prior prefix; NULL
        # on the empty accumulator → coalesce seeds 0).  Linear in
        # lambda evaluations — the previous per-index re-fold was
        # O(n²) (r6 verdict item 9).  DOUBLE accumulation is the
        # arraySum policy.
        a = args[0]
        return (
            f"aggregate({a}, CAST(array() AS ARRAY<DOUBLE>), "
            f"(__acc, __x) -> array_append(__acc, "
            f"coalesce(try_element_at(__acc, -1), CAST(0 AS DOUBLE)) "
            f"+ CAST(__x AS DOUBLE)))"
        )
    if name in ("replaceOne", "replaceOneUTF8") and len(args) == 3:
        # first-occurrence literal replace: locate-splice, the
        # position bound once via the transform ladder (wave 3).
        # Every argument NULL-propagates like CH (a NULL needle or
        # replacement answers NULL even when no match, r13b)
        h, n, r = args
        return (
            f"element_at(transform(array(locate({n}, {h})), "
            f"__rp -> CASE WHEN __rp IS NULL OR ({r}) IS NULL "
            f"THEN CAST(NULL AS STRING) "
            f"WHEN __rp = 0 THEN {h} "
            f"ELSE concat(substring({h}, 1, __rp - 1), {r}, "
            f"substring({h}, __rp + length({n}))) END), 1)"
        )
    if name == "replaceRegexpOne" and len(args) == 3:
        # first-match regex replace with CH's \N replacement
        # backrefs — Python re via the Arrow compat seam (Spark's
        # regexp_replace replaces ALL and reads $N refs)
        return (
            f"ch_replace_regexp_one({args[0]}, {args[1]}, {args[2]})"
        )
    if name == "replaceRegexpAll" and len(args) == 3:
        # CH replacements read \N backrefs and literal $; Java's
        # regexp_replace reads $N and throws on stray $.  Only a
        # LITERAL replacement free of both stays on the native fast
        # path; backref/$-bearing literals AND non-literal
        # (column/expression) replacements route through the re.sub
        # seam (r13b — a column holding '$1' must not substitute)
        rts = [
            t for t in _tokens(args[2]) if not _is_skippable(t)
        ]
        # exactly ONE string token = a true literal ('a' || col
        # || 'b' starts and ends with quotes but is dynamic —
        # code-review r13c)
        plain_literal = (
            len(rts) == 1 and rts[0].startswith("'")
            and not re.search(r"\\+[0-9]", rts[0])
            and "$" not in rts[0]
        )
        pat = args[1].strip()
        if not plain_literal and pat.startswith("'") \
                and pat.endswith("'"):
            # the seam runs Python re: a literal pattern it cannot
            # compile (\p{..}, possessive quantifiers) keeps the
            # native Java path — Java-$N replacement semantics on
            # that corner are documented (code-review r13c)
            try:
                import re as _re_chk

                _re_chk.compile(pat[1:-1])
            except _re_chk.error:
                plain_literal = True
        if not plain_literal:
            return (
                f"ch_replace_regexp_all_br({args[0]}, {args[1]}, "
                f"{args[2]})"
            )
    if name == "multiMatchAnyIndex" and len(args) == 2:
        # 1-based index of a matching pattern (0 = none).  Spark's
        # rlike needs a FOLDABLE pattern, so the array must be a
        # bracket literal, unrolled to a first-match CASE — a
        # deterministic refinement of CH's any-match pick
        arr = args[1].strip()
        if arr.startswith("[") and arr.endswith("]"):
            body = arr[1:-1]
        elif (
            arr.startswith("array(") and arr.endswith(")")
        ):  # the [..] literal may already be rewritten to array(…)
            body = arr[len("array("):-1]
        else:
            raise DialectError(
                "multiMatchAnyIndex needs a LITERAL pattern array "
                "(Spark regex patterns must fold at plan time) — "
                "spell dynamic pattern sets as OR'd match() calls"
            )
        pats = [
            p for p in _split_top_commas(body) if p.strip()
        ]
        if not pats:
            return "0"  # CH: empty pattern set matches nothing
        # bind the haystack once (an expensive or nondeterministic
        # haystack must not be re-evaluated per arm, r13b)
        cells = " ".join(
            f"WHEN __mh RLIKE {p.strip()} THEN {i + 1}"
            for i, p in enumerate(pats)
        )
        return (
            f"element_at(transform(array({args[0]}), __mh -> "
            f"CASE {cells} ELSE 0 END), 1)"
        )
    if name in ("position", "positionUTF8") and len(args) == 2:
        # CH's arg order is (haystack, needle); Spark's NATIVE
        # position(substr, str) is REVERSED, so the former
        # pass-through silently answered 0-for-found (audit wave 3
        # value catch, r13) — instr has CH's order.  Offsets are
        # CHARACTER-based for both names (bare CH position counts
        # BYTES; JVM strings have no byte addressing — the
        # documented position() UTF8 seam, same policy as
        # countSubstrings/overlayUTF8; identical on ASCII data)
        return f"instr({args[0]}, {args[1]})"
    if name in ("position", "positionUTF8") and len(args) == 3:
        # start-position form: Spark locate(substr, str, pos)
        return f"locate({args[1]}, {args[0]}, {args[2]})"
    if name in (
        "positionCaseInsensitive", "positionCaseInsensitiveUTF8"
    ) and len(args) == 3:
        return (
            f"locate(lower({args[1]}), lower({args[0]}), {args[2]})"
        )
    if name in (
        "positionCaseInsensitive", "positionCaseInsensitiveUTF8"
    ) and len(args) == 2:
        # the UTF8 variant coincides char-level (instr is char-based
        # already — the documented position() UTF8 seam)
        return f"instr(lower({args[0]}), lower({args[1]}))"
    if name == "multiSearchAny" and len(args) == 2:
        return f"exists({args[1]}, __ms -> instr({args[0]}, __ms) > 0)"
    if name == "multiSearchAllPositions" and len(args) == 2:
        # 1-based first position per needle, 0 when absent — instr's
        # exact contract, mapped over the needle array (r10 batch 6)
        return f"transform({args[1]}, __ms -> instr({args[0]}, __ms))"
    if name in ("countSubstrings", "countSubstringsUTF8") \
            and len(args) == 2:
        h, nd = args
        return (
            f"((length({h}) - length(replace({h}, {nd}, ''))) "
            f"DIV length({nd}))"
        )
    if name == "countSubstringsCaseInsensitiveUTF8" and len(args) == 2:
        return _render_call(
            "countSubstringsCaseInsensitive", args
        )
    if name in ("base64Decode", "tryBase64Decode") and len(args) == 1:
        return f"CAST(unbase64({args[0]}) AS STRING)"
    if name in ("base58Encode", "base58Decode") and len(args) == 1:
        # Bitcoin-alphabet base58 (compat.py Arrow UDFs, r10 batch 6);
        # decode throws on invalid characters like CH
        fn = ("ch_base58_encode" if name == "base58Encode"
              else "ch_base58_decode")
        return f"{fn}({args[0]})"
    if name in (
        "base32Encode", "base32Decode", "tryBase32Decode",
    ) and len(args) == 1:
        # RFC 4648 base32 (r11 batch 12): same Arrow-codec seam; the
        # try form yields NULL on invalid input instead of raising
        fn = {
            "base32Encode": "ch_base32_encode",
            "base32Decode": "ch_base32_decode",
            "tryBase32Decode": "ch_base32_trydecode",
        }[name]
        return f"{fn}({args[0]})"
    if name in (
        "base64URLEncode", "base64UrlEncode",
    ) and len(args) == 1:
        # RFC 4648 §5 URL-safe alphabet, padding stripped (CH)
        return (
            f"TRIM(TRAILING '=' FROM translate(base64(CAST({args[0]} "
            "AS BINARY)), '+/', '-_'))"
        )
    if name in (
        "base64URLDecode", "base64UrlDecode",
        "tryBase64URLDecode", "tryBase64UrlDecode",
    ) and len(args) == 1:
        # re-pad to a 4-char boundary, restore the standard alphabet,
        # decode — the try* forms share the strict spelling (the
        # base64Decode/tryBase64Decode precedent: they differ only on
        # malformed input)
        return (
            f"CAST(unbase64(concat(translate({args[0]}, '-_', "
            f"'+/'), repeat('=', (4 - length({args[0]}) % 4) % 4))) "
            "AS STRING)"
        )
    if name in ("bin", "unbin"):
        raise DialectError(
            f"{name}: CH renders the value's FIXED-WIDTH byte image "
            "as bits (bin(toUInt8(10)) = '00001010'), but the source "
            "width is erased here — spell it explicitly: "
            "lpad(bin(x), 8·width, '0') for integers, conv(s, 2, 10) "
            "to read bit strings back"
        )
    if name == "bitPositionsToArray" and len(args) == 1:
        # ascending 0-based positions of set bits.  NEGATIVE inputs
        # refuse at runtime: their bit image is width-dependent
        # (toInt8(-1) has 8 set bits in CH, 64 here) — the same
        # erased-width hazard that keeps bin/unbin refused
        # (code-review r11b)
        return (
            f"(CASE WHEN ({args[0]}) < 0 THEN "
            "raise_error('bitPositionsToArray: a negative value''s "
            "bit image depends on the source width Spark has erased "
            "— mask to the width first (bitAnd(x, 255) for Int8)') "
            f"ELSE filter(sequence(0, 63), __bp -> "
            f"(shiftrightunsigned(CAST({args[0]} AS BIGINT), __bp) "
            "& 1) = 1) END)"
        )
    if name == "extractTextFromHTML":
        raise DialectError(
            "extractTextFromHTML: CH ships a full HTML/CDATA/script "
            "parser — approximate with "
            "regexp_replace(s, '<[^>]*>', '') if tag-stripping is "
            "enough"
        )
    if name == "exp2" and len(args) == 1:
        return f"power(2, {args[0]})"
    if name == "exp10" and len(args) == 1:
        return f"power(10, {args[0]})"
    if name == "negate" and len(args) == 1:
        return f"(-({args[0]}))"
    if name in ("plus", "minus", "multiply", "divide") and len(args) == 2:
        op = {"plus": "+", "minus": "-", "multiply": "*", "divide": "/"}[name]
        return f"(({args[0]}) {op} ({args[1]}))"
    if name == "splitByString" and len(args) == 2:
        return f"split({args[1]}, concat('\\\\Q', {args[0]}, '\\\\E'))"
    if name == "alphaTokens" and len(args) == 1:
        return f"array_remove(split({args[0]}, '[^A-Za-z]+'), '')"
    if name == "formatDateTime" and len(args) == 2 and (
        args[1].startswith("'") and args[1].endswith("'")
    ):
        return f"date_format({args[0]}, '{_strftime_to_jdk(args[1][1:-1])}')"
    if name in ("arrayMin", "arrayMax", "arrayAvg", "arrayCumSum",
                "arrayCumSumNonNegative", "arrayProduct") \
            and len(args) == 2:
        # CH's optional key-lambda form f(x) applied before the
        # element aggregate — map the array through the lambda and
        # delegate to the single-arg handler
        lam, arr = args
        return _render_call(name, [f"transform({arr}, {lam})"])
    if name in ("arrayROCAUC",) and len(args) == 2:
        return _render_call("arrayAUC", args)
    if name in ("arrayAUCUnscaled", "arrayROCAUCUnscaled") \
            and len(args) == 2:
        # unscaled = AUC · |pos| · |neg| (the raw rank-sum area)
        auc = _render_call("arrayAUC", args)
        lab = args[1]
        return (
            f"({auc} * size(filter({lab}, __lp -> __lp > 0)) "
            f"* size(filter({lab}, __ln -> NOT (__ln > 0))))"
        )
    if name in ("arrayFill", "arrayReverseFill") and len(args) == 2:
        # LOCF inside an array: elements where the predicate is
        # FALSE take the nearest PRECEDING true element (arrayFill) /
        # FOLLOWING (reverseFill = the same fold over the reversed
        # array, reversed back).  The leading run before any true
        # element keeps its values (CH rule: the first element is
        # never replaced from nothing).
        lam, arr = args
        lm = re.match(
            r"(?s)\s*\(?\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)?\s*->\s*(.+)$",
            lam,
        )
        if not lm:
            raise DialectError(
                f"{name} predicate must take exactly one parameter"
            )
        p, body = lm.group(1), lm.group(2).strip()
        pred = "".join(
            "__af_x" if (_is_ident(t) and t == p) else t
            for t in _tokens(body)
        )
        src = f"reverse({arr})" if name == "arrayReverseFill" else arr
        fold = (
            f"aggregate({src}, slice({src}, 1, 0), "
            f"(__af_a, __af_x) -> concat(__af_a, array("
            f"IF(({pred}) OR size(__af_a) = 0, __af_x, "
            f"element_at(__af_a, -1)))))"
        )
        if name == "arrayReverseFill":
            fold = f"reverse({fold})"
        return fold
    if name in ("arraySplit", "arrayReverseSplit") and len(args) == 3:
        # two-array form (audit batch 17): the lambda sees elements
        # of BOTH arrays but only the FIRST array is split — zip the
        # value with the evaluated flag into structs, run the
        # single-array machinery on the struct's flag, unwrap
        lam, a1, a2 = args
        lm2 = re.match(
            r"(?s)\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*,\s*"
            r"([A-Za-z_][A-Za-z0-9_]*)\s*\)\s*->\s*(.+)$",
            lam,
        )
        if not lm2:
            raise DialectError(
                f"{name} over two arrays needs a two-parameter "
                "lambda: (x, y) -> …"
            )
        p1, p2, body = lm2.group(1), lm2.group(2), lm2.group(3).strip()
        pred = "".join(
            "__zx" if (_is_ident(t) and t == p1)
            else "__zy" if (_is_ident(t) and t == p2) else t
            for t in _tokens(body)
        )
        zipped = (
            f"zip_with({a1}, {a2}, (__zx, __zy) -> "
            f"named_struct('v', __zx, 'f', ({pred})))"
        )
        inner = _render_call(name, ["__zs -> __zs.f", zipped])
        return (
            f"transform({inner}, "
            f"__zg -> transform(__zg, __zs2 -> __zs2.v))"
        )
    if name in ("arraySplit", "arrayReverseSplit") and len(args) == 2:
        # arraySplit starts a new subarray BEFORE each element where
        # the predicate is true (the first subarray always starts at
        # element 1); arrayReverseSplit ends one AFTER it.  Fold
        # building array<array<T>>; CH returns [[]]-free results for
        # the empty array ([]) — guarded.
        lam, arr = args
        lm = re.match(
            r"(?s)\s*\(?\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)?\s*->\s*(.+)$",
            lam,
        )
        if not lm:
            raise DialectError(
                f"{name} predicate must take exactly one parameter"
            )
        p, body = lm.group(1), lm.group(2).strip()
        pred = "".join(
            "__as_x" if (_is_ident(t) and t == p) else t
            for t in _tokens(body)
        )
        if name == "arraySplit":
            step = (
                f"IF(({pred}), concat(__as_a, array(array(__as_x))), "
                f"concat(slice(__as_a, 1, size(__as_a) - 1), "
                f"array(concat(element_at(__as_a, -1), "
                f"array(__as_x)))))"
            )
            fold = (
                f"aggregate(slice(__aa, 2, size(__aa) - 1), "
                f"array(slice(__aa, 1, 1)), "
                f"(__as_a, __as_x) -> {step})"
            )
        else:
            # append, then close the subarray after a true element;
            # drop a trailing empty subarray at finish
            step = (
                f"IF(({pred}), concat(slice(__as_a, 1, "
                f"size(__as_a) - 1), array(concat("
                f"element_at(__as_a, -1), array(__as_x))), "
                f"array(slice(__aa, 1, 0))), "
                f"concat(slice(__as_a, 1, size(__as_a) - 1), "
                f"array(concat(element_at(__as_a, -1), "
                f"array(__as_x)))))"
            )
            fold = (
                f"aggregate(__aa, array(slice(__aa, 1, 0)), "
                f"(__as_a, __as_x) -> {step}, "
                f"__as_a -> IF(size(element_at(__as_a, -1)) = 0, "
                f"slice(__as_a, 1, size(__as_a) - 1), __as_a))"
            )
        return (
            f"element_at(transform(array({arr}), __aa -> "
            f"CASE WHEN size(__aa) = 0 THEN "
            f"slice(array(__aa), 1, 0) ELSE {fold} END), 1)"
        )
    if name == "arraySlice" and len(args) == 2:
        # offset-to-end form: positive offsets run to the end,
        # negative offsets take the |offset|-element tail
        a, off = args
        return (
            f"element_at(transform(array({a}), __aa -> "
            f"IF(({off}) > 0, slice(__aa, ({off}), "
            f"greatest(size(__aa) - ({off}) + 1, 0)), "
            f"slice(__aa, ({off}), -({off})))), 1)"
        )
    if name == "mapPopulateSeries" and len(args) == 1:
        # fill integer key gaps [min..max] with 0 (CH's default-fill
        # series form)
        m0 = args[0]
        return (
            f"element_at(transform(array({m0}), __mp -> "
            f"CASE WHEN size(__mp) = 0 THEN __mp "
            f"ELSE map_from_arrays("
            f"sequence(array_min(map_keys(__mp)), "
            f"array_max(map_keys(__mp))), "
            f"transform(sequence(array_min(map_keys(__mp)), "
            f"array_max(map_keys(__mp))), "
            f"__mk -> coalesce(try_element_at(__mp, __mk), 0)) "
            f") END), 1)"
        )
    if name in ("sumMapWithOverflow", "sumMappedArraysWithOverflow") \
            and args:
        # wrap-around overflow cannot happen on the BIGINT/DOUBLE
        # tier sumMap accumulates in — same values (audit batch 17)
        return _render_call("sumMap", args)
    if name == "finalizeAggregation" and len(args) == 1:
        # the initializeAggregation compose is handled by the
        # _rewrite_finalize_compose token pre-pass (the renderer is
        # bottom-up, so the family tag is gone by now); anything
        # reaching here is a stored state column
        raise DialectError(
            "finalizeAggregation over a stored state column: the "
            "expression text carries no aggregate family — read the "
            "table through the -Merge registers (SELECT "
            "sumMerge(state_col) … — dialect_state_merge*)"
        )
    if name == "initializeAggregation" and len(args) >= 2 \
            and args[0][:1] in "'\"":
        # per-ROW state constructor for the PORTABLE state families
        # (the -State registers that transpile): lets INSERTs seed
        # AggregatingMergeTree-style state columns from single values
        head = args[0].strip().strip("'\"")
        vals = args[1:]
        x = vals[0]
        if head in ("sumState", "minState", "maxState", "anyState"):
            return f"({x})"
        if head == "countState":
            return f"IF(({x}) IS NULL, CAST(0 AS BIGINT), " \
                   f"CAST(1 AS BIGINT))"
        if head == "avgState":
            return (
                f"named_struct('s', {x}, 'c', "
                f"IF(({x}) IS NULL, CAST(0 AS BIGINT), "
                f"CAST(1 AS BIGINT)))"
            )
        if head in ("uniqExactState", "groupBitmapState"):
            return f"IF(({x}) IS NULL, slice(array({x}), 1, 0), " \
                   f"array({x}))"
        if head == "groupArrayState":
            return f"IF(({x}) IS NULL, slice(array({x}), 1, 0), " \
                   f"array({x}))"
        if head == "uniqState":
            # the single-value HLL code set: one (bucket·64 + rank)
            # code from the same md5-prefix hash the aggregate uses
            from clickhouse_vs_dbt_spark.operators.dedup import (
                md5p_sql,
            )

            h = md5p_sql(f"CAST({x} AS STRING)", "spark")
            w = f"(({h}) div {_HLL_M})"
            rank = (
                f"CASE WHEN {w} = 0 THEN 53 "
                f"ELSE 53 - length(bin({w})) END"
            )
            code = (
                f"CAST(({h}) % {_HLL_M} * 64 + ({rank}) AS INT)"
            )
            return (
                f"IF(({x}) IS NULL, "
                f"slice(array({code}), 1, 0), array({code}))"
            )
        if head in ("argMaxState", "argMinState") and len(vals) == 2:
            a, v = vals
            return (
                f"IF(({v}) IS NULL, NULL, "
                f"named_struct('v', {v}, 'a', {a}))"
            )
        raise DialectError(
            f"initializeAggregation({head!r}): only the portable "
            "-State families seed per-row (sum/count/min/max/avg/"
            "uniq/uniqExact/groupBitmap/groupArray/argMax/argMin)"
        )
    if name in ("dumpColumnStructure", "defaultValueOfTypeName"):
        raise DialectError(
            f"{name}: ClickHouse type-introspection — use "
            "toTypeName (mapped) or the Spark schema API"
        )
    if name in ("formatRow", "formatRowNoNewline"):
        raise DialectError(
            f"{name}: row serialization needs the output FORMAT "
            "machinery — spell it directly: to_json(struct(...)) "
            "for JSONEachRow, concat_ws(',', ...) for CSV"
        )
    if name == "flattenTuple":
        raise DialectError(
            "flattenTuple is Tuple-TYPE introspection (flattens the "
            "nested column layout) — project the struct fields "
            "explicitly (t.a.b AS a_b)"
        )
    if name == "toStartOfMicrosecond" and len(args) == 1:
        return f"CAST({args[0]} AS TIMESTAMP)"  # already micro-grid
    if name == "toStartOfMillisecond" and len(args) == 1:
        return f"date_trunc('MILLISECOND', {args[0]})"
    if name == "toStartOfNanosecond" and len(args) == 1:
        raise DialectError(
            "toStartOfNanosecond: Spark timestamps are microsecond-"
            "resolution — the nano grid does not exist here"
        )
    if name in ("arraySort", "arrayReverseSort") and len(args) == 2:
        # KEY-FUNCTION sort form arraySort(f, arr): Spark's two-arg
        # array_sort takes a COMPARATOR, not a key, so the bare
        # rename emitted invalid SQL (r9 audit).  Decorate-sort-
        # undecorate with the ORIGINAL POSITION as tiebreak — CH's
        # sorts are stable; for the descending form the position is
        # negated before the ascending struct sort and the result
        # reversed, which restores ascending positions within equal
        # keys (stable descending).
        lam, arr = args
        lm = re.match(
            r"(?s)\s*\(?\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)?\s*->\s*(.+)$",
            lam,
        )
        if not lm:
            raise DialectError(
                f"{name} key lambda must take exactly one parameter"
            )
        p, body = lm.group(1), lm.group(2).strip()
        key = "".join(
            "element_at(__aa, __ai)" if (_is_ident(t) and t == p)
            else t
            for t in _tokens(body)
        )
        rev = name == "arrayReverseSort"
        pos = "-__ai" if rev else "__ai"
        sort = (
            f"array_sort(transform(sequence(1, size(__aa)), "
            f"__ai -> named_struct('k', {key}, 'i', {pos})))"
        )
        if rev:
            sort = f"reverse({sort})"
        undec = "element_at(__aa, -__as.i)" if rev else (
            "element_at(__aa, __as.i)"
        )
        return (
            f"element_at(transform(array({arr}), __aa -> "
            f"CASE WHEN size(__aa) = 0 THEN __aa "
            f"ELSE transform({sort}, __as -> {undec}) END), 1)"
        )
    if name in _HOF_ROTATE:
        if name == "arraySum":
            # one-arg form sums the array itself; two-arg maps first.
            arr = args[-1] if len(args) == 2 else args[0]
            body = f"transform({arr}, {args[0]})" if len(args) == 2 else arr
            return (
                f"aggregate({body}, CAST(0 AS DOUBLE), "
                f"(acc, x) -> acc + CAST(x AS DOUBLE))"
            )
        if len(args) != 2:
            raise DialectError(f"{name} expects (lambda, array)")
        lam, arr = args
        if name == "arrayCount":
            return f"size(filter({arr}, {lam}))"
        if name == "arrayFirst":
            # get() is null-safe on empty arrays even under ANSI mode
            return f"get(filter({arr}, {lam}), 0)"
        return f"{_HOF_ROTATE[name]}({arr}, {lam})"
    if name == "extractAll" and len(args) == 2:
        # whole-match profile (group index 0): Spark's default group 1
        # errors on group-less patterns.  Deliberate divergence for
        # patterns WITH a capture group — ClickHouse would return the
        # group; write regexp_extract_all(s, re, 1) directly for that.
        return f"regexp_extract_all({args[0]}, {args[1]}, 0)"
    if name == "splitByChar" and len(args) == 2:
        # inlined (not left to the compat SQL UDF): Spark rejects SQL
        # UDFs under Generate, so arrayJoin(splitByChar(...)) needs the
        # raw expression; \\Q..\\E regex-quotes the separator
        return f"split({args[1]}, concat('\\\\Q', {args[0]}, '\\\\E'))"
    if name in (
        "sumArrayDistinct", "avgArrayDistinct", "countArrayDistinct",
    ) and len(args) == 1:
        # -ArrayDistinct: the aggregate over the DISTINCT non-NULL
        # elements across the group's arrays (code-review r14e: a
        # NULL element poisoned the sum accumulator and inflated
        # the count — CH aggregates skip NULLs).  count delegates
        # to the uniqExactArray register (same contract); the
        # element list is bound ONCE (Spark does not CSE across
        # aggregate boundaries — the sumMap precedent).
        if name == "countArrayDistinct":
            return _render_call("uniqExactArray", args)
        els = (
            f"array_distinct(filter(flatten(collect_list("
            f"{args[0]})), __af -> __af IS NOT NULL))"
        )
        body = (
            "aggregate(__adl, CAST(0 AS DOUBLE), "
            "(__ad, __ax) -> __ad + CAST(__ax AS DOUBLE))"
        )
        if name == "avgArrayDistinct":
            body = f"try_divide({body}, size(__adl))"
        return (
            f"element_at(transform(array({els}), "
            f"__adl -> {body}), 1)"
        )
    if name == "anyArray" and len(args) == 1:
        # any NON-NULL element across the group's arrays (CH any
        # skips NULLs): per row, the first non-null element; empty
        # or all-null arrays yield NULL, which ignoreNulls skips
        # (code-review r14e: sampling only position 1 missed
        # non-null elements behind a NULL head)
        return (
            f"any_value(try_element_at(filter({args[0]}, "
            f"__ax -> __ax IS NOT NULL), 1), true)"
        )
    if name == "medianArray" and len(args) == 1:
        # median over the NON-NULL elements: the quantileExact(0.5)
        # rule (element at floor((n-1)/2), the deterministic exact
        # upgrade of CH's sketch — the uniqArray exact precedent).
        # NULL elements are filtered before the sort (code-review
        # r14e: they shifted the index), and an EMPTY element set
        # answers NULL — the deterministic Spark-typed analog of
        # CH's nan (the kurtPop precedent)
        return (
            f"element_at(transform(array(sort_array(filter(flatten("
            f"collect_list({args[0]})), __mf -> __mf IS NOT NULL))), "
            f"__ma -> IF(size(__ma) = 0, CAST(NULL AS DOUBLE), "
            f"CAST(element_at(__ma, CAST(floor((size(__ma) - 1) "
            f"* 0.5) AS INT) + 1) AS DOUBLE))), 1)"
        )
    if (
        name.endswith("Array")
        and name[: -len("Array")] in (
            "sum", "min", "max", "avg", "count", "groupArray",
            "uniq", "uniqExact", "groupUniqArray",
        )
        and len(args) == 1
    ):
        if name == "groupArrayArray":
            # -Array on groupArray concatenates the group's arrays
            return f"flatten(collect_list({args[0]}))"
        if name == "groupUniqArrayArray":
            # set union of the group's array elements — sorted for
            # deterministic output (CH's set order is unspecified;
            # the groupBitmap precedent) (r15 batch 29: the name
            # leaked through the batch-28 set)
            # NULL elements filtered: CH groupUniqArray skips
            # NULLs and array_distinct would keep one (the r14e
            # uniqArray lesson; r15b)
            return (
                f"sort_array(array_distinct(filter(flatten("
                f"collect_list({args[0]})), "
                f"__gu -> __gu IS NOT NULL)))"
            )
        if name in ("uniqArray", "uniqExactArray"):
            # distinct count across all NON-NULL elements — the
            # exact tier (uniq is documented-approximate; exact is
            # the deterministic upgrade, the quantile precedent).
            # NULL elements filtered: CH uniq* skips NULLs, and
            # array_distinct would have kept one (code-review r14e)
            return (
                f"CAST(size(array_distinct(filter(flatten("
                f"collect_list({args[0]})), "
                f"__uf -> __uf IS NOT NULL))) AS BIGINT)"
            )
        # -Array combinator: the aggregate over every ELEMENT of the
        # row arrays in the group.  sum/avg accumulate in DOUBLE (the
        # arraySum policy — integer-exact below 2^53, documented).
        base = name[: -len("Array")]
        a = args[0]
        elem_sum = (
            f"sum(aggregate({a}, CAST(0 AS DOUBLE), "
            "(acc, x) -> acc + CAST(x AS DOUBLE)))"
        )
        if base == "sum":
            return elem_sum
        if base == "min":
            return f"min(array_min({a}))"
        if base == "max":
            return f"max(array_max({a}))"
        if base == "count":
            return f"sum(CAST(size({a}) AS BIGINT))"
        return f"({elem_sum} / sum(CAST(size({a}) AS BIGINT)))"
    if (
        name.endswith("Distinct")
        and name[: -len("Distinct")] in ("sum", "avg", "count")
        and len(args) == 1
    ):
        # -Distinct combinator: aggregate over the distinct values
        return f"{name[: -len('Distinct')]}(DISTINCT {args[0]})"
    if name.endswith("OrNull") and len(args) >= 1:
        base = name[: -len("OrNull")]
        # CH -OrNull: NULL instead of the default when no rows matched.
        # Spark sum/min/max/avg are already NULL on empty input; count
        # needs the explicit nullif.
        if base == "count":
            return f"nullif(count({joined}), 0)"
        if base in ("sum", "min", "max", "avg"):
            return f"{base}({joined})"
        # the distinct-count tier answers 0 on an empty set — CH
        # -OrNull turns that 0 into NULL (before the generic rename,
        # which would lose the nullif; r14 batch 28)
        if base in ("uniq", "uniqExact", "uniqCombined",
                    "uniqCombined64", "uniqHLL12", "uniqTheta"):
            return f"nullif({_render_call(base, args)}, 0)"
        if base in _RENAME:
            return f"{_RENAME[base]}({joined})"
        # delegate tier (r14 batch 28): these registers already
        # answer NULL when nothing aggregated, so -OrNull is the
        # base itself
        if base in ("any", "anyLast", "argMax", "argMin", "median",
                    "medianIf", "avgIf", "sumIf", "minIf", "maxIf"):
            return _render_call(base, args)
    if name.endswith("OrDefault") and len(args) >= 1:
        base = name[: -len("OrDefault")]
        has_if = base.endswith("If")
        if has_if:
            base = base[:-2]
        # CH -OrDefault: the result-TYPE default instead of NULL when
        # no rows matched — 0 for every numeric-result base here
        # (sum/count/avg/uniq*); min/max return the ARGUMENT type
        # whose default is unknowable without type info → refuse
        inner = None
        if base == "count":
            inner = f"count({joined})"  # count is already 0 on empty
            return inner
        if base in ("sum", "avg"):
            fn = base
            if has_if:
                x, cond = args[0], args[-1]
                inner = f"{fn}(CASE WHEN {cond} THEN {x} END)"
            else:
                inner = f"{fn}({joined})"
            return f"coalesce({inner}, 0)"
        if base in ("uniq", "uniqExact", "uniqCombined", "uniqHLL12"):
            mapped = _render_call(
                base + ("If" if has_if else ""), args
            )
            return f"coalesce({mapped}, 0)"
        if base in ("min", "max", "any", "anyLast", "argMax", "argMin"):
            raise DialectError(
                f"{name}: the {base} default is the ARGUMENT type's "
                "zero value, which needs type information — spell it "
                f"as coalesce({base}(x), <default>)"
            )
    if (
        name.endswith("SimpleState")
        and name[: -len("SimpleState")] in _SIMPLE_STATE_HEADS
    ):
        # r15 batch 29: SimpleAggregateFunction's "state" IS the
        # finished value (that is the type's whole point — merge is
        # just the aggregate re-applied), so -SimpleState delegates
        # to the base register for every head CH documents as
        # SimpleAggregateFunction-compatible.  sumWithOverflow
        # refuses THROUGH the base (width declaration needed).
        return _render_call(name[: -len("SimpleState")], args)
    for suffix in ("SimpleState", "MergeState", "State", "Merge"):
        if name.endswith(suffix) and len(name) > len(suffix):
            base = name[: -len(suffix)]
            has_if = base.endswith("If")
            if has_if:
                base = base[:-2]
            if base in ("sum", "min", "max", "count"):
                # self-merging tier: for these aggregates the partial
                # state IS the partial value (merge(sums)=sum of
                # partials, merge(counts)=sum, merge(mins)=min), so
                # -State emits the plain partial aggregate and -Merge
                # re-aggregates it — count's merge sums.  Exactly the
                # two-level plan AggregatingMergeTree materializes
                # (operators/mergetree.py mergetree_aggregating).
                fn = base
                if base == "count" and suffix in ("Merge", "MergeState"):
                    fn = "sum"
                if has_if and suffix in ("Merge", "MergeState"):
                    # fnIfMerge(state): the condition was applied at
                    # -IfState creation; the merge takes ONLY the
                    # state column and must not re-mask
                    if len(args) != 1:
                        raise DialectError(
                            f"{name} takes the single state column "
                            "(the -If condition was applied by the "
                            "-IfState producer)"
                        )
                    return f"{fn}({args[0]})"
                if has_if:
                    cond = args[-1]
                    inner = args[0] if len(args) >= 2 else None
                    if base == "count":
                        return f"count_if({cond})"
                    if inner is None:
                        raise DialectError(f"{name} needs (x, cond)")
                    return f"{fn}(CASE WHEN {cond} THEN {inner} END)"
                if base == "count" and not args:
                    if suffix in ("Merge", "MergeState"):
                        raise DialectError(
                            f"{name}() needs the state column"
                        )
                    return "count(*)"
                return f"{fn}({joined})"
            if base == "avg" and suffix in ("State", "Merge", "MergeState"):
                # avg's portable state is the (sum, count) pair CH
                # itself decomposes avgState into; merge divides in
                # DOUBLE — CH avg/avgMerge returns Float64 regardless
                # of the input type, so double division is faithful
                if suffix == "State":
                    if has_if:
                        if len(args) != 2:
                            raise DialectError(f"{name} needs (x, cond)")
                        x, cond = args
                        return (
                            f"named_struct('s', sum(CASE WHEN {cond} "
                            f"THEN {x} END), 'c', count(CASE WHEN "
                            f"{cond} THEN {x} END))"
                        )
                    if len(args) != 1:
                        raise DialectError(f"{name} takes one argument")
                    return (
                        f"named_struct('s', sum({args[0]}), "
                        f"'c', count({args[0]}))"
                    )
                if len(args) != 1:
                    raise DialectError(
                        f"{name} takes the single state column"
                    )
                st = args[0]
                if suffix == "MergeState":
                    return (
                        f"named_struct('s', sum(({st}).s), "
                        f"'c', sum(({st}).c))"
                    )
                return (
                    f"(CAST(sum(({st}).s) AS DOUBLE) / "
                    f"CAST(sum(({st}).c) AS DOUBLE))"
                )
            if base == "groupBitmap" and suffix in (
                "State", "Merge", "MergeState",
            ) and not has_if:
                # groupBitmap's portable state IS the repo's bitmap
                # representation (sorted distinct array — the r8
                # bitmap family), so -State collects it and -Merge
                # unions + counts, exactly uniqExact's shape
                if suffix == "State":
                    if len(args) != 1:
                        raise DialectError(
                            f"{name} takes one argument"
                        )
                    return f"sort_array(collect_set({args[0]}))"
                if len(args) != 1:
                    raise DialectError(
                        f"{name} takes the single state column"
                    )
                merged = (
                    f"array_distinct(flatten(collect_list({args[0]})))"
                )
                if suffix == "MergeState":
                    return f"sort_array({merged})"
                return f"CAST(size({merged}) AS BIGINT)"
            if base == "uniqExact" and suffix in (
                "State", "Merge", "MergeState",
            ):
                # uniqExact's state is the value set itself (exact
                # distinct needs it, in CH too — memory grows with
                # cardinality); sorted array for deterministic output
                # if the state itself is ever selected
                if suffix == "State":
                    if has_if:
                        if len(args) != 2:
                            raise DialectError(f"{name} needs (x, cond)")
                        x, cond = args
                        return (
                            f"sort_array(collect_set("
                            f"CASE WHEN {cond} THEN {x} END))"
                        )
                    if len(args) != 1:
                        raise DialectError(f"{name} takes one argument")
                    return f"sort_array(collect_set({args[0]}))"
                if len(args) != 1:
                    raise DialectError(
                        f"{name} takes the single state column"
                    )
                merged = (
                    f"array_distinct(flatten(collect_list({args[0]})))"
                )
                if suffix == "MergeState":
                    return f"sort_array({merged})"
                return f"CAST(size({merged}) AS BIGINT)"
            if base == "groupArray" and suffix in (
                "State", "Merge", "MergeState",
            ):
                # groupArray's state is the collected array; CH's
                # insertion order is nondeterministic under
                # distributed merge and so is collect_list's — sort
                # the merged result (arraySort) for stable output
                if suffix == "State":
                    if has_if:
                        if len(args) != 2:
                            raise DialectError(f"{name} needs (x, cond)")
                        x, cond = args
                        return (
                            f"collect_list(CASE WHEN {cond} "
                            f"THEN {x} END)"
                        )
                    if len(args) != 1:
                        raise DialectError(f"{name} takes one argument")
                    return f"collect_list({args[0]})"
                if len(args) != 1:
                    raise DialectError(
                        f"{name} takes the single state column"
                    )
                return f"flatten(collect_list({args[0]}))"
            if base in ("uniq", "uniqCombined", "uniqCombined64",
                        "uniqHLL12") and suffix in (
                "State", "Merge", "MergeState",
            ):
                # portable HLL register sketch (module-level helper
                # docs above _render_call); the If form masks at
                # -State creation like the other registers
                if suffix == "State":
                    if has_if:
                        if len(args) != 2:
                            raise DialectError(f"{name} needs (x, cond)")
                        x = f"CASE WHEN {args[1]} THEN {args[0]} END"
                    else:
                        if len(args) != 1:
                            raise DialectError(
                                f"{name} takes one argument (tuple "
                                "keys: hash them into one expression)"
                            )
                        x = args[0]
                    return _uniq_state_sql(x)
                if len(args) != 1:
                    raise DialectError(
                        f"{name} takes the single state column"
                    )
                return _uniq_merge_sql(
                    args[0], restate=suffix == "MergeState"
                )
            if base in ("quantile", "quantileExact") and suffix in (
                "State", "Merge", "MergeState",
            ):
                if suffix == "State":
                    if has_if:
                        if len(args) != 2:
                            raise DialectError(f"{name} needs (x, cond)")
                        x = f"CASE WHEN {args[1]} THEN {args[0]} END"
                    else:
                        if len(args) != 1:
                            raise DialectError(
                                f"{name} takes one argument"
                            )
                        x = args[0]
                    return _q_state_sql(x)
                if len(args) != 1:
                    raise DialectError(
                        f"{name} takes the single state column "
                        "(spell the level parametrically: "
                        f"{name}(0.9)(state))"
                    )
                return _q_merge_sql(
                    args[0], "0.5", restate=suffix == "MergeState"
                )
            if base == "quantileTiming" and suffix in (
                "State", "Merge", "MergeState",
            ):
                if suffix == "State":
                    if has_if:
                        if len(args) != 2:
                            raise DialectError(f"{name} needs (x, cond)")
                        x = f"CASE WHEN {args[1]} THEN {args[0]} END"
                    else:
                        if len(args) != 1:
                            raise DialectError(
                                f"{name} takes one argument"
                            )
                        x = args[0]
                    return _qt_state_sql(x)
                if len(args) != 1:
                    raise DialectError(
                        f"{name} takes the single state column "
                        "(spell the level parametrically: "
                        f"{name}(0.9)(state))"
                    )
                return _qt_merge_sql(
                    args[0], "0.5", restate=suffix == "MergeState"
                )
            if base in ("sumMap", "minMap", "maxMap") and suffix in (
                "State", "Merge", "MergeState",
            ) and not has_if:
                # -Map aggregates are SELF-MERGING: the partial
                # per-key reduction (the sumMap result struct of
                # sorted parallel arrays) is closed under another
                # per-key reduction, so -State emits the plain
                # aggregate and -Merge re-folds the state structs'
                # (keys, values) pairs through the identical RLE fold
                if suffix == "State":
                    if len(args) not in (1, 2):
                        raise DialectError(
                            f"{name} takes (keys, values) or (map)"
                        )
                    return _render_call(base, args)
                if len(args) != 1:
                    raise DialectError(
                        f"{name} takes the single state column "
                        "(the tuple-of-arrays sumMap state)"
                    )
                st = args[0]
                return _render_call(
                    base, [f"({st}).keys", f"({st}).values"]
                )
            if base in ("argMax", "argMin") and suffix in (
                "State", "Merge", "MergeState",
            ):
                # argMax/argMin's portable state is the extremal
                # (value, arg) pair — a struct MAX/MIN (struct compare
                # is value-major), the same max-by-struct state CH
                # packs into its byte register.  NULL values are
                # masked at -State creation (CH skips NULL-valued
                # rows); ties on the value break DETERMINISTICALLY by
                # the extremal arg where CH keeps an arrival-order-
                # dependent "any" (documented strictness upgrade, the
                # quantileState precedent).
                ext = "max" if base == "argMax" else "min"
                if suffix == "State":
                    if has_if:
                        if len(args) != 3:
                            raise DialectError(
                                f"{name} needs (arg, val, cond)"
                            )
                        a, v, cond = args
                        mask = f"({cond}) AND ({v}) IS NOT NULL"
                    else:
                        if len(args) != 2:
                            raise DialectError(
                                f"{name} needs (arg, val)"
                            )
                        a, v = args
                        mask = f"({v}) IS NOT NULL"
                    return (
                        f"{ext}(CASE WHEN {mask} THEN "
                        f"named_struct('v', {v}, 'a', {a}) END)"
                    )
                if len(args) != 1:
                    raise DialectError(
                        f"{name} takes the single state column"
                    )
                merged = f"{ext}({args[0]})"
                if suffix == "MergeState":
                    return merged
                return f"({merged}).a"
            if (
                base in _IF_BASES
                or base in _RENAME
                or base.rstrip("0123456789").lower() in _CH_AGG_HEADS
            ):
                raise DialectError(
                    f"{name}: this ClickHouse -State/-Merge register is "
                    "an engine-internal byte state with no portable "
                    "Spark value; sum/count/min/max/avg/uniqExact/"
                    "groupArray/uniq/quantile/quantileExact/"
                    "quantileTiming/argMax/argMin/sumMap/minMap/"
                    "maxMap States ARE transpiled — see "
                    "mergetree_aggregating (and incremental_agg_mv / "
                    "transpile_materialized_view for maintained state)"
                )
    if (
        name.endswith(("ArgMax", "ArgMin"))
        and name[:-6] in ("sum", "min", "max", "avg", "count")
        and len(args) == 2
    ):
        # -ArgMin/-ArgMax combinators (CH 23+): aggregate x over ONLY
        # the rows whose y equals the group's extremal y.  Two-level
        # within one aggregate — expressed as a collect + HOF fold
        # over (x, y) structs bound next to the group's max/min(y)
        # (group-payload memory, the documented collect-tier class).
        base, ext = name[:-6], name[-3:].lower()
        x, y = args
        xe = f"CAST({x} AS DOUBLE)" if base in ("sum", "avg") else x
        g = (
            f"struct(collect_list(struct({xe} AS x, {y} AS y)) AS l, "
            f"{ext}({y}) AS m)"
        )
        sel = "filter(__g.l, __e -> __e.y <=> __g.m)"
        if base == "count":
            body = f"CAST(size({sel}) AS BIGINT)"
        elif base in ("min", "max"):
            body = f"array_{base}(transform({sel}, __e -> __e.x))"
        elif base == "sum":
            body = (
                f"aggregate({sel}, CAST(0 AS DOUBLE), "
                f"(__a, __e) -> __a + __e.x)"
            )
        else:  # avg
            body = (
                f"aggregate({sel}, CAST(0 AS DOUBLE), "
                f"(__a, __e) -> __a + __e.x) / size({sel})"
            )
        return f"transform(array({g}), __g -> {body})[0]"
    if name in ("anyRespectNulls", "any_respect_nulls") and len(args) == 1:
        # RESPECT NULLS flavor of any — same unspecified-order
        # contract, NULLs eligible
        return f"any_value({args[0]}, false)"
    if name in ("anyLastRespectNulls", "anyLast_respect_nulls",
                "firstValueRespectNulls",
                "first_value_respect_nulls", "lastValueRespectNulls",
                "last_value_respect_nulls") and len(args) == 1:
        fn = "first" if "first" in name.lower() else "last"
        return f"{fn}({args[0]}, false)"
    if name in ("sumMap", "minMap", "maxMap") and len(args) == 1:
        # Map-typed argument form (CH 22.x+): same per-key reduction,
        # but returned as a MAP (CH returns Map for Map input) — run
        # the tuple-of-arrays fold over (map_keys, map_values) and
        # re-assemble.  NULL-valued entries are filtered FIRST (CH
        # aggregates skip NULLs; the raw fold would NULL-poison the
        # key — r15b)
        m = (
            f"map_filter({args[0]}, "
            "(__mk0, __mv0) -> __mv0 IS NOT NULL)"
        )
        inner = _render_call(
            name, [f"map_keys({m})", f"map_values({m})"]
        )
        return (
            f"element_at(transform(array({inner}), "
            f"__mt -> map_from_arrays(__mt.keys, __mt.values)), 1)"
        )
    if name in ("avgMap", "countMap") and len(args) == 1:
        # -Map combinator members the sum/min/max trio doesn't cover
        # (r15 batch 29): ONE RLE fold over the group's sorted
        # (key, value) entries accumulating per-key (sum, count) —
        # the map argument is spliced exactly ONCE via map_entries
        # (r15b: the first cut composed two sumMap folds, splicing
        # the argument six times and NULL-poisoning keys — the fold
        # FILTERS NULL values per CH's skip contract; a key whose
        # values are all NULL is absent from the result).  count
        # values are BIGINT (CH UInt64), avg DOUBLE (CH Float64).
        m = args[0]
        entries = (
            f"filter(transform(map_entries({m}), __me -> "
            "named_struct('k', __me.key, "
            "'v', CAST(__me.value AS DOUBLE))), "
            "__mf -> __mf.v IS NOT NULL)"
        )
        # typed empty accumulator derived FROM the input (map keys
        # may be any type — a hardcoded STRING seed would miscast)
        seed = (
            "transform(slice(__mp, 1, 0), __z -> named_struct("
            "'k', __z.k, 's', __z.v, 'c', CAST(1 AS BIGINT)))"
        )
        fold = (
            "aggregate(__mp, " + seed + ", "
            "(__ac, __p) -> IF(size(__ac) > 0 AND "
            "element_at(__ac, -1).k = __p.k, "
            "concat(slice(__ac, 1, size(__ac) - 1), "
            "array(named_struct('k', __p.k, "
            "'s', element_at(__ac, -1).s + __p.v, "
            "'c', element_at(__ac, -1).c + 1))), "
            "concat(__ac, array(named_struct('k', __p.k, "
            "'s', __p.v, 'c', CAST(1 AS BIGINT))))))"
        )
        cell = (
            "__q.s / __q.c" if name == "avgMap" else "__q.c"
        )
        return (
            "element_at(transform(array(element_at(transform(array("
            f"sort_array(flatten(collect_list({entries})))), "
            f"__mp -> {fold}), 1)), __mr -> map_from_arrays("
            "transform(__mr, __q -> __q.k), "
            f"transform(__mr, __q -> {cell}))), 1)"
        )
    if name.endswith("Map") and len(args) == 1 and name[:-3] in (
        "uniq", "uniqExact", "any", "anyLast", "median",
        "groupArray", "groupUniqArray", "argMax", "argMin",
    ):
        raise DialectError(
            f"{name}: the -Map combinator re-aggregates per map key "
            "— ARRAY JOIN mapEntries(m) and GROUP BY the key, or "
            "use sum/min/max/avg/countMap"
        )
    if name in ("hasAnyTokens", "hasAllTokens") and len(args) == 2:
        # CH 24.x full-text helpers: OR/AND composition over the
        # hasToken word-boundary regex (r15 batch 29).  Needles must
        # be a literal array — each token builds its regex at
        # transpile time (the hasToken contract).
        arr = args[1].strip()
        m_ = re.fullmatch(r"array\((.*)\)", arr, re.DOTALL)
        if not m_:
            raise DialectError(
                f"{name}: needles must be a literal array — each "
                "token builds a word-boundary regex at transpile "
                "time (the hasToken contract)"
            )
        needles = [
            p.strip() for p in _split_top_commas(m_.group(1))
            if p.strip()
        ]
        if not needles:
            # vacuous: ANY over nothing is false, ALL is true
            return "false" if name == "hasAnyTokens" else "true"
        cells = [
            _render_call("hasToken", [args[0], n]) for n in needles
        ]
        op = " OR " if name == "hasAnyTokens" else " AND "
        return "(" + op.join(f"({c})" for c in cells) + ")"
    if name in ("hasAnyTokens", "hasAllTokens"):
        # wrong arity must refuse, not leak the CH name (r15b)
        raise DialectError(
            f"{name} takes (input, ['token', …]) — exactly two "
            "arguments"
        )
    if name == "groupConcat" and len(args) in (1, 2):
        # CH groupConcat/group_concat — same unspecified-order
        # contract as groupArray→collect_list (documented)
        sep = args[1] if len(args) == 2 else "''"
        return f"array_join(collect_list({args[0]}), {sep})"
    if name == "groupArrayIntersect" and len(args) == 1:
        # intersection of the array column across the group's rows —
        # left fold with array_intersect over the collected arrays
        # (state is one array that only shrinks)
        a = args[0]
        return (
            f"element_at(transform(array(collect_list({a})), "
            f"__ls -> CASE WHEN size(__ls) = 0 THEN "
            f"slice(element_at(__ls, 1), 1, 0) "
            f"ELSE aggregate(slice(__ls, 2, size(__ls) - 1), "
            f"element_at(__ls, 1), "
            f"(__ac, __ar) -> array_intersect(__ac, __ar)) END), 1)"
        )
    if name in (
        "groupBitmapAnd", "groupBitmapOr", "groupBitmapXor",
    ) and len(args) == 1:
        # bitmap-column aggregates over the repo's sorted-distinct-
        # array bitmap representation (r8 bitmap family):
        # And = |∩ of the group's bitmaps| (the groupArrayIntersect
        # fold), Or = |∪| (distinct flatten), Xor = |symmetric
        # difference fold| (a value survives iff present in an odd
        # number of bitmaps)
        b = args[0]
        if name == "groupBitmapOr":
            return (
                f"CAST(size(array_distinct(flatten("
                f"collect_list({b})))) AS BIGINT)"
            )
        if name == "groupBitmapAnd":
            inner = _render_call("groupArrayIntersect", [b])
            return f"CAST(size({inner}) AS BIGINT)"
        return (
            f"element_at(transform(array(collect_list("
            f"array_distinct({b}))), "
            f"__ls -> CASE WHEN size(__ls) = 0 THEN CAST(0 AS BIGINT) "
            f"ELSE CAST(size(aggregate(slice(__ls, 2, size(__ls) - 1), "
            f"element_at(__ls, 1), "
            f"(__ac, __ar) -> array_union("
            f"array_except(__ac, __ar), array_except(__ar, __ac)))) "
            f"AS BIGINT) END), 1)"
        )
    if name in (
        "corrMatrix", "covarSampMatrix", "covarPopMatrix",
    ) and len(args) >= 2:
        # pairwise matrix over the argument columns as nested arrays
        # (CH's Array(Array(Float64)) shape) — n² flat aggregates,
        # one pass
        fn = {
            "corrMatrix": "corr",
            "covarSampMatrix": "covar_samp",
            "covarPopMatrix": "covar_pop",
        }[name]
        rows_ = ", ".join(
            "array(" + ", ".join(
                f"CAST({fn}({r}, {c}) AS DOUBLE)" for c in args
            ) + ")"
            for r in args
        )
        return f"array({rows_})"
    if name == "sumWithOverflow":
        # backstop: the width-declared form is consumed by the
        # _rewrite_sum_with_overflow pre-pass (r10); anything that
        # reaches here lacked the inline width
        raise DialectError(
            "sumWithOverflow keeps the input width and wraps on "
            "overflow — declare the width inline "
            "(sumWithOverflow(toUInt32(x)) / toInt64(x) etc.), or "
            "use sum(), which widens"
        )
    if name in ("JSONExtractKeys", "simpleJSONExtractKeys") \
            and len(args) >= 1:
        j = args[0]
        if len(args) > 1 and all(a[:1] == "'" for a in args[1:]):
            path = "$." + ".".join(a[1:-1] for a in args[1:])
            j = f"get_json_object({j}, '{path}')"
        return f"json_object_keys({j})"
    if name in ("JSONMergePatch", "jsonMergePatch") and len(args) == 1:
        # 1-arg form normalizes the document (merge with {} — batch 21)
        return f"ch_json_merge_patch({args[0]}, '{{}}')"
    if name in ("JSONMergePatch", "jsonMergePatch") and len(args) >= 2:
        # RFC 7386 merge patch via the stdlib json module (compat.py
        # ch_json_merge_patch, Arrow-batched) — compact serialization,
        # target key order preserved then patch-added keys, exactly
        # the output shape CH and DuckDB's json_merge_patch produce;
        # variadic folds left like CH.  Invalid JSON fails the task
        # loudly (CH throws).
        out = args[0]
        for nxt in args[1:]:
            out = f"ch_json_merge_patch({out}, {nxt})"
        return out
    if name == "JSONType" and len(args) == 1:
        # root-document form via the stdlib json parse (compat.py
        # ch_json_type) — CH's type names incl. the simdjson
        # Int64/UInt64 width split
        return f"ch_json_type({args[0]})"
    if name == "JSONType" and len(args) >= 2:
        # path form (VERDICT r9 item 6): CH's indices_or_keys walk —
        # string key / 1-based index / negative-from-end index,
        # integers also index OBJECT members by position — runs in
        # the stdlib classifier UDF on PARSED values, so the
        # "5"-vs-5 raw-text ambiguity of get_json_object never
        # arises; a miss at any step classifies as 'Null' like the
        # root form's unparseable-input marker
        steps = _literal_json_steps(args[1:])
        if steps is None:
            raise DialectError(
                "JSONType: path steps must be literal "
                "strings/integers (the stdlib walk is encoded at "
                "transpile time)"
            )
        return f"ch_json_type_path({args[0]}, {steps})"
    if name == "JSONAllPaths" and len(args) == 1:
        # every object-key chain to a leaf (arrays/scalars are
        # leaves), dot-joined, sorted for determinism (CH reports
        # storage order) — scalar/array root yields [] like CH
        return f"ch_json_all_paths({args[0]}, '[]')"
    if name in ("JSONDynamicPaths", "JSONSharedDataPaths"):
        raise DialectError(
            f"{name}: introspects the JSON COLUMN's storage layout "
            "(which paths went dynamic vs shared) — engine-internal "
            "with no document-level answer; JSONAllPaths maps since "
            "r10 for document path enumeration"
        )
    if name == "cutToFirstSignificantSubdomain" and len(args) == 1:
        parts = f"split(parse_url({args[0]}, 'HOST'), '\\\\.')"
        return (
            f"CASE WHEN try_element_at({parts}, -2) IN "
            "('com', 'net', 'org', 'co') "
            f"THEN concat_ws('.', try_element_at({parts}, -3), "
            f"try_element_at({parts}, -2), "
            f"try_element_at({parts}, -1)) "
            f"ELSE concat_ws('.', try_element_at({parts}, -2), "
            f"try_element_at({parts}, -1)) END"
        )
    if name in ("punycodeEncode", "punycodeDecode",
                "tryPunycodeDecode", "idnaEncode", "tryIdnaEncode",
                "idnaDecode") and len(args) == 1:
        # RFC 3492 / IDNA2003 via Python's built-in codecs (compat.py
        # ch_idn, Arrow-batched — no Catalyst spelling exists, the
        # erf/normalizeUTF8 precedent); try-forms yield '' on invalid
        # input, strict forms fail the task loudly (CH throws)
        mode = {
            "punycodeEncode": "penc",
            "punycodeDecode": "pdec",
            "tryPunycodeDecode": "ptry",
            "idnaEncode": "ienc",
            "tryIdnaEncode": "itry",
            "idnaDecode": "idec",
        }[name]
        return f"ch_idn({args[0]}, '{mode}')"
    if name in ("queryID", "initialQueryID", "hostName", "uptime",
                "blockNumber", "blockSize", "rowNumberInBlock"):
        raise DialectError(
            f"{name}() exposes ClickHouse server/block internals "
            "with no Spark analog — spark.sparkContext.applicationId "
            "/ monotonically_increasing_id() cover the usual intents"
        )
    if name in ("sumMap", "minMap", "maxMap") and len(args) == 2:
        # -Map aggregates: per-key reduction over (keys[], values[])
        # row pairs, returned as a struct of parallel sorted arrays
        # (ClickHouse returns the same tuple-of-arrays).  Shape: zip
        # per row, collect per group, sort by key, run-length-reduce —
        # the _topk_exact fold with a sum/min/max merge; values
        # accumulate in DOUBLE (the arraySum policy; the fold order is
        # the sorted-array order, so the result is deterministic).
        op = {"sumMap": "+", "minMap": None, "maxMap": None}[name]
        merge = (
            f"element_at(acc, -1).v {op} p.v"
            if op
            else (
                f"{'least' if name == 'minMap' else 'greatest'}"
                "(element_at(acc, -1).v, p.v)"
            )
        )
        pairs = (
            f"sort_array(flatten(collect_list(zip_with({args[0]}, "
            f"{args[1]}, (a, b) -> named_struct('k', a, 'v', "
            "CAST(b AS DOUBLE))))))"
        )
        step = (
            "(acc, p) -> IF(size(acc) > 0 AND element_at(acc, -1).k = p.k, "
            "concat(slice(acc, 1, size(acc) - 1), "
            f"array(named_struct('k', p.k, 'v', {merge}))), "
            "concat(acc, array(p)))"
        )
        # bind the sorted pair array and the RLE result ONCE each via
        # single-element transform lambdas — spelling them inline
        # would re-collect and re-sort the whole group per reference
        # (Spark does not CSE across aggregate/transform boundaries;
        # measured 4x the work on dialect_combinators2)
        return (
            "element_at(transform(array("
            f"{pairs}"
            "), __mp -> element_at(transform(array("
            f"aggregate(__mp, slice(__mp, 1, 0), {step})"
            "), __mr -> named_struct("
            "'keys', transform(__mr, s -> s.k), "
            "'values', transform(__mr, s -> s.v))), 1)), 1)"
        )
    # --- stacked combinators (r7) ---
    if (
        name.endswith("ArrayIf")
        and name[: -len("ArrayIf")] in ("sum", "min", "max", "avg",
                                        "count")
        and len(args) == 2
    ):
        # -ArrayIf: the condition masks ROWS; rows failing it
        # contribute no elements (a NULL array is skipped by the
        # element fold) — delegate to the -Array mapping
        base = name[: -len("If")]
        return _render_call(
            base, [f"CASE WHEN {args[1]} THEN {args[0]} END"]
        )
    if name in ("countIfOrNull",) and len(args) == 1:
        return f"nullif(count_if({args[0]}), 0)"
    # (sum/min/max/avg)IfOrNull and uniqExactOrNull are served by
    # the -OrNull delegate/nullif tiers above — the duplicate
    # handlers that lived here were dead code (code-review r14e)
    if (
        name.endswith("DistinctIf")
        and name[: -len("DistinctIf")] in ("sum", "avg", "count")
        and len(args) == 2
    ):
        base = name[: -len("DistinctIf")]
        return (
            f"{base}(DISTINCT CASE WHEN {args[1]} THEN {args[0]} END)"
        )
    if name == "avgForEach" and len(args) == 1:
        # element-wise mean: ONE collect_list, bound via the
        # transform ladder, feeding a single fold that accumulates
        # (sum, count) struct arrays per position (NULL elements
        # don't count — CH's avg NULL-skip; an all-NULL position
        # yields NULL via try_divide).  Wave 3; single-aggregation
        # shape per code-review r13b.
        a = args[0]
        cell = (
            "named_struct('s', coalesce(__p.s, CAST(0 AS DOUBLE)) + "
            "coalesce(CAST(__q AS DOUBLE), CAST(0 AS DOUBLE)), "
            "'c', coalesce(__p.c, CAST(0 AS DOUBLE)) + "
            "IF(__q IS NULL, CAST(0 AS DOUBLE), 1.0d))"
        )
        pad = (
            "named_struct('s', CAST(0 AS DOUBLE), "
            "'c', CAST(0 AS DOUBLE))"
        )
        fold = (
            f"aggregate(__fe, "
            f"CAST(array() AS "
            f"ARRAY<STRUCT<s: DOUBLE, c: DOUBLE>>), "
            f"(__acc, __x) -> zip_with("
            f"CASE WHEN size(__acc) >= size(__x) THEN __acc "
            f"ELSE concat(__acc, array_repeat({pad}, "
            f"size(__x) - size(__acc))) END, "
            f"__x, (__p0, __q) -> element_at(transform(array("
            f"coalesce(__p0, {pad})), __p -> {cell}), 1)))"
        )
        return (
            f"element_at(transform(array(collect_list({a})), "
            f"__fe -> transform({fold}, "
            f"__sc2 -> try_divide(__sc2.s, __sc2.c))), 1)"
        )
    if (
        name.endswith("ForEach")
        and name[: -len("ForEach")] in ("sum", "min", "max")
        and len(args) == 1
    ):
        # element-wise reduction across the rows' arrays (ragged
        # lengths: missing positions contribute identity)
        base = name[: -len("ForEach")]
        a = args[0]
        cast = "CAST(__e AS DOUBLE)"  # the arraySum DOUBLE policy
        if base == "sum":
            merge = (
                "coalesce(__p, CAST(0 AS DOUBLE)) + "
                "coalesce(__q, CAST(0 AS DOUBLE))"
            )
        else:
            fn = "least" if base == "min" else "greatest"
            merge = f"{fn}(coalesce(__p, __q), coalesce(__q, __p))"
        return (
            f"aggregate(collect_list({a}), "
            f"CAST(array() AS ARRAY<DOUBLE>), "
            f"(__acc, __x) -> CASE WHEN size(__acc) >= size(__x) "
            f"THEN zip_with(__acc, transform(__x, __e -> {cast}), "
            f"(__p, __q) -> {merge}) "
            f"ELSE zip_with(transform(__x, __e -> {cast}), __acc, "
            f"(__q, __p) -> {merge}) END)"
        )
    if name.endswith("ForEach") and name[: -len("ForEach")] in (
        "sum", "min", "max", "avg",
    ):
        # wrong arity refuses (CH throws BAD_ARGUMENTS too) —
        # never leaks the name (r14 batch 28)
        raise DialectError(
            f"{name} takes exactly one array argument"
        )
    if name.endswith("If") and name[:-2] in _IF_DELEGATED:
        if len(args) >= 2:
            # generic composed -If (r14 batch 28): mask every
            # argument by the condition and delegate to the head's
            # register — see _IF_COMPOSED for the NULL-skipping
            # contract and _IF_REFUSE_THROUGH for the heads that
            # refuse at the base
            cond = args[-1]
            return _render_call(
                name[:-2],
                [f"CASE WHEN {cond} THEN {a} END" for a in args[:-1]],
            )
        # wrong arity (code-review r15a: entropyIf(g) leaked the CH
        # name): the two-level heads refuse THROUGH the base with
        # their actionable pointer; the composed heads get the
        # arity message
        if name[:-2] in _IF_REFUSE_THROUGH:
            return _render_call(name[:-2], args)
        raise DialectError(
            f"{name} takes the {name[:-2]} arguments plus a "
            "trailing condition"
        )
    if name == "retentionIf" and len(args) >= 2:
        # -If on retention: excluded rows must match NO stage — AND
        # the condition into every per-row stage flag (the flags
        # aggregate with max/OR, so false == excluded)
        cond = args[-1]
        return _render_call(
            "retention",
            [f"(({c}) AND ({cond}))" for c in args[:-1]],
        )
    if (
        name.endswith("If")
        and name[:-2] in (
            "corr", "covarPop", "covarSamp", "stddevPop",
            "stddevSamp", "varPop", "varSamp",
        )
        and len(args) >= 2
    ):
        base = {
            "corr": "corr", "covarPop": "covar_pop",
            "covarSamp": "covar_samp", "stddevPop": "stddev_pop",
            "stddevSamp": "stddev_samp", "varPop": "var_pop",
            "varSamp": "var_samp",
        }[name[:-2]]
        cond = args[-1]
        masked = ", ".join(
            f"CASE WHEN {cond} THEN {a} END" for a in args[:-1]
        )
        return f"{base}({masked})"
    if name.endswith("If") and name[:-2] in _IF_BASES and len(args) >= 2:
        base = _IF_BASES[name[:-2]]
        cond = args[-1]
        if name[:-2] in ("argMax", "argMin") and len(args) == 3:
            # argMaxIf(x, ord, cond): NULL-masking ord keeps the pair out
            return (
                f"{base}(CASE WHEN {cond} THEN {args[0]} END, "
                f"CASE WHEN {cond} THEN {args[1]} END)"
            )
        if len(args) == 2:
            tail = ", true" if base in _IF_NULL_SENSITIVE else ""
            return f"{base}(CASE WHEN {cond} THEN {args[0]} END{tail})"
    if name in _RENAME:
        return f"{_RENAME[name]}({joined})"
    if name in _PARAMETRIC:
        # plain one-list form of a parametric aggregate: ClickHouse
        # applies the parameter's documented default (level 0.5 for
        # the quantile family, k=10 for topK); the remaining forms
        # have no meaningful default → refuse naming the parametric
        # spelling rather than surfacing an opaque Spark
        # undefined-function error.
        if name == "quantile" and len(args) == 1:
            return f"percentile_approx({args[0]}, 0.5)"
        if name == "quantileExact" and len(args) == 1:
            return f"percentile({args[0]}, 0.5)"
        if (
            name in ("quantileTDigest", "quantileTiming")
            and len(args) == 1
        ):
            return f"percentile_approx({args[0]}, 0.5)"
        if name == "topK" and len(args) == 1:
            return _topk_exact(args[0], "10")
        if name == "topKWeighted" and len(args) == 2:
            return _topk_weighted_exact(args[0], args[1], "10")
        if name in (
            "quantileExactWeighted", "medianExactWeighted",
        ) and len(args) == 2:
            # CH default level 0.5 (the median form)
            return _weighted_exact_quantile(args[0], args[1], "0.5")
        raise DialectError(
            f"{name} is a parametric aggregate — write "
            f"{name}(params)({joined})"
        )
    return f"{name}({joined})"


def _rewrite_map_apply(lam: str, m: str) -> str:
    """``mapApply((k, v) -> (k2, v2), m)`` → entry-array rewrite (see
    the _render_call site).  The lambda arrives already walked, so its
    body may contain nested rewrites; substitution is token-level on
    the two parameter identifiers (qualified ``x.k`` field accesses
    are left alone)."""
    toks = _tokens(lam)
    arrow = next(
        (i for i in _top_level(toks, 0, len(toks) - 1)
         if toks[i] == "-" and toks[i + 1] == ">"),
        None,
    )
    if arrow is None:
        raise DialectError(
            "mapApply's first argument must be a "
            "(k, v) -> (k2, v2) lambda"
        )
    params = [t for t in toks[:arrow] if _is_ident(t)]
    if len(params) != 2:
        raise DialectError(
            "mapApply's lambda takes exactly two parameters (key, "
            "value)"
        )
    body = [t for t in toks[arrow + 2:]]
    while body and body[0].isspace():
        body.pop(0)
    while body and body[-1].isspace():
        body.pop()
    if not body or body[0] != "(" or body[-1] != ")":
        raise DialectError(
            "mapApply's lambda must return a (key, value) tuple"
        )
    inner = body[1:-1]
    cut = next((i for i in _top_level(inner) if inner[i] == ","), None)
    if cut is None:
        raise DialectError(
            "mapApply's lambda must return a (key, value) tuple"
        )
    sub = {params[0]: "__e.key", params[1]: "__e.value"}

    def render(ts: list[str]) -> str:
        out: list[str] = []
        for j, t in enumerate(ts):
            prev = next(
                (ts[p] for p in range(j - 1, -1, -1)
                 if not ts[p].isspace()), ""
            )
            if _is_ident(t) and t in sub and prev != ".":
                out.append(sub[t])
            else:
                out.append(t)
        return "".join(out).strip()

    ke, ve = render(inner[:cut]), render(inner[cut + 1:])
    return (
        f"map_from_entries(transform(map_entries({m}), "
        f"__e -> struct({ke} AS key, {ve} AS value)))"
    )


#: aggregate heads whose ``-If`` spelling renders here — the surface
#: the -Resample rewrite (below) can expand onto.  Anything else
#: refuses with the GROUP-BY pointer rather than emitting an unknown
#: ``fooIf`` passthrough.
_RESAMPLE_HEADS = (
    frozenset(_IF_BASES)
    | {"count", "uniqExact", "corr", "covarPop", "covarSamp",
       "stddevPop", "stddevSamp", "varPop", "varSamp"}
)


#: contract bound on the expression-position weighted-quantile
#: collect (r15, VERDICT r14 item 4): pairs per GROUP.  Groups
#: larger than this refuse LOUDLY at runtime with a pointer to the
#: statement-owned value-compressed re-plan.  NOTE the guard runs
#: after collect_list materializes, so it enforces the contract (no
#: silent wrong-scale use) — it does not shrink the transient
#: collect memory itself; the re-plan is the scale path
#: (code-review r15a: the first comment overclaimed "bounded").
_QW_COLLECT_CAP = 1 << 20


def _weighted_exact_quantile(v: str, w: str, p: str) -> str:
    """``quantileExactWeighted(p)(v, w)`` as one aggregate expression
    (r11 audit batch 11): collect the (value, weight) pairs, sort by
    value, and return the smallest value whose CUMULATIVE weight
    reaches ``p · Σw`` — ClickHouse's non-interpolating exact-weighted
    rule, the same contract the ``weighted_median`` operator's window
    spelling pins (operators/stats.py).  The collect is CAPPED at
    ``_QW_COLLECT_CAP`` pairs per group (r15: VERDICT r14 item 4 —
    larger groups raise with a pointer to the statement-owned
    re-plan, which keeps O(distinct values) state); statements the
    transpiler owns never reach this fold (``_qw_replan``, including
    whitelisted scalar expression positions since r15)."""
    return (
        "element_at(transform(array(sort_array(collect_list("
        # NULL values/weights are SKIPPED like every CH aggregate —
        # collect_list drops NULL entries, so the CASE masks the whole
        # struct when either side is NULL (code-review r11b: NULL
        # structs inflated Σw and shifted the threshold)
        f"CASE WHEN ({v}) IS NOT NULL AND ({w}) IS NOT NULL THEN "
        f"named_struct('v', CAST({v} AS DOUBLE), "
        f"'w', CAST({w} AS DOUBLE)) END))), "
        f"__qw -> IF(size(__qw) > {_QW_COLLECT_CAP}, "
        "raise_error('quantileExactWeighted in expression position "
        f"holds the (value, weight) pairs in group state; this "
        f"group exceeds {_QW_COLLECT_CAP} pairs - use the plain "
        "SELECT ... GROUP BY spelling, which re-plans to the "
        "value-compressed two-pass window (O(distinct values))'), "
        "aggregate(__qw, "
        "named_struct('acc', CAST(0 AS DOUBLE), "
        "'res', CAST(NULL AS DOUBLE), "
        f"'thr', ({p}) * aggregate(__qw, CAST(0 AS DOUBLE), "
        "(__a, __e) -> __a + __e.w)), "
        "(__s, __e) -> CASE WHEN __s.res IS NOT NULL THEN __s "
        "WHEN __s.acc + __e.w >= __s.thr THEN "
        "named_struct('acc', __s.acc + __e.w, 'res', __e.v, "
        "'thr', __s.thr) "
        "ELSE named_struct('acc', __s.acc + __e.w, 'res', __s.res, "
        "'thr', __s.thr) END, "
        "__s -> __s.res))), 1)"
    )


def _render_parametric(name: str, params: list[str], args: list[str]) -> str:
    """CH parametric aggregates: ``fn(params)(args)``."""
    if name in (
        "windowFunnelIf", "sequenceMatchIf", "sequenceCountIf",
    ) and len(args) >= 3:
        # -If on the sequence family: excluded rows must match NO
        # stage — AND the condition into every per-row stage flag
        # (r14 batch 28; the retentionIf composition).  EXCEPT
        # strict_order, which inspects NON-matching events (any
        # no-match row breaks the chain): a masked excluded row is
        # still visible to that rule where CH's -If removes it
        # before the funnel — refuse (code-review r14e)
        if name == "windowFunnelIf" and any(
            "strict_order" in p for p in params
        ):
            raise DialectError(
                "windowFunnelIf with strict_order: the excluded "
                "rows would still break chains as no-match events "
                "— filter the rows in a subquery instead"
            )
        cond = args[-1]
        return _render_parametric(
            name[:-2], params,
            [args[0]] + [f"(({c}) AND ({cond}))" for c in args[1:-1]],
        )
    if name == "quantilesIf" and len(args) == 2 and params:
        return (
            f"percentile_approx(CASE WHEN {args[1]} THEN {args[0]} "
            f"END, array({', '.join(params)}))"
        )
    if name == "topKIf" and len(params) == 1 and len(args) == 2:
        return _render_parametric(
            "topK", params,
            [f"CASE WHEN {args[1]} THEN {args[0]} END"],
        )
    if name == "groupConcat" and len(params) in (1, 2) and len(
        args
    ) == 1:
        # CH parametric spelling groupConcat(sep[, limit])(x) —
        # delimiter and limit are both PARAMETERS, the aggregate is
        # unary (code-review r11b: the first cut invented a
        # (sep)(x, limit) form CH rejects)
        if len(params) == 2:
            return (
                f"array_join(slice(collect_list({args[0]}), 1, "
                f"{params[1]}), {params[0]})"
            )
        return f"array_join(collect_list({args[0]}), {params[0]})"
    if name in (
        "quantileExactWeighted", "quantilesExactWeighted",
        "medianExactWeighted",
    ) and len(args) == 2 and params:
        cells = [
            _weighted_exact_quantile(args[0], args[1], p)
            for p in params
        ]
        if name == "quantilesExactWeighted":
            return f"array({', '.join(cells)})"
        if len(params) != 1:
            raise DialectError(f"{name} takes exactly one level")
        return cells[0]
    if name in (
        "quantileExactWeightedIf", "quantilesExactWeightedIf",
    ) and len(args) == 3 and params:
        # -If combinator: mask the VALUE by the condition — the
        # fold skips NULL (value, weight) pairs, so masked rows
        # contribute neither weight nor value (code-review r14d)
        v = f"CASE WHEN {args[2]} THEN {args[0]} END"
        cells = [
            _weighted_exact_quantile(v, args[1], p) for p in params
        ]
        if name == "quantilesExactWeightedIf":
            return f"array({', '.join(cells)})"
        if len(params) != 1:
            raise DialectError(f"{name} takes exactly one level")
        return cells[0]
    if name.endswith("Resample") and len(name) > len("Resample"):
        # -Resample combinator (VERDICT r10 item 2):
        # ``fooResample(start, stop, step)(args…, key)`` aggregates
        # each subinterval [start + i·step, min(start + (i+1)·step,
        # stop)) of the key independently and returns the ARRAY of
        # results.  start/stop/step are CH-mandated literals, so the
        # bucket list folds at TRANSPILE time into one -If aggregate
        # per bucket — map-side partial aggregation over a single
        # pass, no extra shuffle, the same plan a hand-written
        # FILTER-per-bucket GROUP BY would get.
        head = name[: -len("Resample")]
        if head not in _RESAMPLE_HEADS:
            raise DialectError(
                f"{name}: -Resample transpiles for the -If-capable "
                "heads (" + ", ".join(sorted(_RESAMPLE_HEADS)) + ") — "
                "GROUP BY intDiv(key - start, step) for other "
                "aggregates"
            )
        if len(params) != 3:
            raise DialectError(
                f"{name}: exactly one (start, stop, step) triple "
                "transpiles — multiple resampling keys need explicit "
                "GROUP BY buckets"
            )

        def _num(tok: str, what: str) -> float:
            tok = tok.strip()
            try:
                return (
                    float(tok)
                    if ("." in tok or "e" in tok.lower())
                    else int(tok)
                )
            except ValueError:
                raise DialectError(
                    f"{name}: {what} must be a numeric literal — the "
                    "bucket list expands at transpile time"
                ) from None

        start = _num(params[0], "start")
        stop = _num(params[1], "stop")
        step = _num(params[2], "step")
        if step <= 0 or stop <= start:
            raise DialectError(
                f"{name}: requires stop > start and step > 0"
            )
        import math

        n = math.ceil((stop - start) / step)
        if n > 256:
            raise DialectError(
                f"{name}: {n} buckets would expand to {n} aggregate "
                "expressions — GROUP BY intDiv(key - start, step) "
                "with a HAVING range instead"
            )
        min_args = 1 if head == "count" else 2
        if len(args) < min_args:
            raise DialectError(
                f"{name}: the argument list is (…aggregate args, "
                "resampling key)"
            )
        key, head_args = args[-1], args[:-1]
        buckets = []
        for i in range(n):
            lo = start + i * step
            hi = min(start + (i + 1) * step, stop)
            cond = f"(({key}) >= {lo} AND ({key}) < {hi})"
            cell = _render_call(head + "If", head_args + [cond])
            if head == "sum":
                # an EMPTY bucket: CH's non-Nullable sum yields 0, the
                # Spark CASE-masked sum yields NULL (code-review r11).
                # count/uniq/uniqExact already return 0; the remaining
                # heads (min/max/avg/any…) keep NULL — a documented
                # refinement of CH's type-default footgun (MIGRATION.md)
                cell = f"coalesce({cell}, 0)"
            buckets.append(cell)
        return f"array({', '.join(buckets)})"
    if name == "quantile" and len(params) == 1:
        return f"percentile_approx({args[0]}, {params[0]})"
    if name == "quantileExact" and len(params) == 1:
        return f"percentile({args[0]}, {params[0]})"
    if name in ("quantiles", "quantilesTiming", "quantilesTDigest",
                "quantilesBFloat16"):
        return f"percentile_approx({args[0]}, array({', '.join(params)}))"
    if (
        name in ("quantileExactLow", "quantileExactHigh")
        and len(params) == 1
        and len(args) == 1
    ):
        # ClickHouse's non-interpolating exact tiers: the element at
        # floor/ceil((n-1)·level) of the sorted group (Low keeps the
        # lower of two middle elements, High the upper)
        x, p = args[0], params[0]
        fn = "floor" if name == "quantileExactLow" else "ceil"
        return (
            f"element_at(sort_array(collect_list({x})), "
            f"CAST({fn}((count({x}) - 1) * ({p})) + 1 AS INT))"
        )
    if name == "quantilesExact":
        return f"percentile({args[0]}, array({', '.join(params)}))"
    if name == "quantileExactIf" and len(params) == 1 and len(args) == 2:
        return (
            f"percentile(CASE WHEN {args[1]} THEN {args[0]} END, {params[0]})"
        )
    if name == "histogram" and len(params) == 1 and len(args) == 1:
        # adaptive histogram: Spark's histogram_numeric is the same
        # streaming-merge construction (centers + heights); ClickHouse
        # returns (lower, upper, height) triples vs Spark's (x, y)
        # centers — same role, documented shape difference
        return f"histogram_numeric({args[0]}, {params[0]})"
    if name == "groupArraySorted" and len(params) == 1 and len(args) == 1:
        # exact: the n smallest values in order (CH semantics)
        return (
            f"slice(sort_array(collect_list({args[0]})), 1, {params[0]})"
        )
    if (
        name in ("quantileTDigest", "quantileTiming", "quantileBFloat16")
        and len(params) == 1
    ):
        # all ClickHouse approximate-quantile registers; the Spark
        # register is percentile_approx — same role, different sketch
        return f"percentile_approx({args[0]}, {params[0]})"
    if (
        name in ("quantileDD", "medianDD")
        and len(params) >= 1 and len(args) == 1
    ):
        # DDSketch(relative_accuracy[, level]) — the approximate-
        # quantile ROLE → percentile_approx (the quantileTDigest/
        # Timing/BFloat16 precedent: same contract class, different
        # sketch; the relative-accuracy parameter has no
        # percentile_approx twin and is documented as absorbed)
        # medianDD is CH's literal alias of quantileDD — it honors
        # an explicit level the same way (code-review r15c: the
        # name-gated check silently pinned medianDD to 0.5)
        if len(params) > 2:
            raise DialectError(
                f"{name} takes (relative_accuracy[, level]) — "
                "use quantilesDD for multiple levels"
            )
        level = params[1] if len(params) == 2 else "0.5"
        return f"percentile_approx({args[0]}, {level})"
    if name == "quantilesDD" and len(params) >= 2 and len(args) == 1:
        levels = params[1:]
        return (
            f"percentile_approx({args[0]}, "
            f"array({', '.join(levels)}))"
        )
    if name == "quantileGK" and len(params) == 2 and len(args) == 1:
        # Greenwald-Khanna(accuracy, level) — percentile_approx IS
        # a GK-family sketch with the same (expr, level, accuracy)
        # contract
        acc, level = params
        return f"percentile_approx({args[0]}, {level}, {acc})"
    if name == "quantilesGK" and len(params) >= 2 and len(args) == 1:
        # plural form: quantilesGK(accuracy, l1, l2, …)(x)
        acc, levels = params[0], params[1:]
        return (
            f"percentile_approx({args[0]}, "
            f"array({', '.join(levels)}), {acc})"
        )
    if (
        name in ("quantileExactInclusive", "quantilesExactInclusive")
        and params and len(args) == 1
    ):
        # CH ExactInclusive == PERCENTILE.INC == Spark's exact
        # percentile (type-7 linear interpolation)
        levels = (
            params[0] if len(params) == 1
            else f"array({', '.join(params)})"
        )
        if name.startswith("quantiles"):
            levels = f"array({', '.join(params)})"
        return f"percentile({args[0]}, {levels})"
    if (
        name in ("quantileExactExclusive", "quantilesExactExclusive")
        and params and len(args) == 1
    ):
        # PERCENTILE.EXC (type 6): h = (n+1)p over the sorted values,
        # clamped to the ends — computed on the sorted collected
        # array, bound once via the single-element-transform trick
        x = args[0]
        def exc(p: str) -> str:
            h = f"((size(__q) + 1) * CAST({p} AS DOUBLE))"
            f0 = f"CAST(floor({h}) AS INT)"
            return (
                f"CASE WHEN size(__q) = 0 THEN CAST(NULL AS DOUBLE) "
                f"WHEN {h} < 1 THEN element_at(__q, 1) "
                f"WHEN {h} >= size(__q) THEN element_at(__q, -1) "
                f"ELSE element_at(__q, {f0}) + ({h} - floor({h})) * "
                f"(element_at(__q, {f0} + 1) - element_at(__q, {f0}))"
                f" END"
            )
        if name.startswith("quantiles"):
            body = f"array({', '.join(exc(p) for p in params)})"
        else:
            body = exc(params[0])
        return (
            f"element_at(transform(array(sort_array(collect_list("
            f"CAST({x} AS DOUBLE)))), __q -> {body}), 1)"
        )
    if name == "quantileInterpolatedWeighted" and params:
        raise DialectError(
            "quantileInterpolatedWeighted's interpolation over "
            "cumulative weights has no exact register here — "
            "quantileExactWeighted (which transpiles) is the exact "
            "weighted quantile with step semantics"
        )
    if name == "groupArraySample" and params and len(args) == 1:
        # deterministic tier of CH's RANDOM per-group sample (the
        # topK exact-tier precedent): rank every element by the
        # engine-portable md5 prefix of (value, seed) and keep the n
        # smallest — a seeded uniform selection that is reproducible
        # across runs AND engines (CH's own is not, by design).
        # Output sorts by the rank, a deterministic spelling of CH's
        # arbitrary order.
        if len(params) not in (1, 2):
            raise DialectError(
                "groupArraySample takes (n[, seed])(x)"
            )
        n = params[0]
        seed = params[1] if len(params) == 2 else "0"
        from clickhouse_vs_dbt_spark.operators.dedup import md5p_sql

        h = md5p_sql(
            f"concat(CAST(({args[0]}) AS STRING), ':', "
            f"CAST({seed} AS STRING))",
            "spark",
        )
        # the (h, x) struct is built per ROW inside the aggregate
        # child (codegen'd, parallel across tasks) instead of by a
        # post-collect transform that md5-hashed the whole group
        # single-threaded in the interpreted finalizer (r17, guide
        # §1.2); the CASE keeps collect_list's null-element drop —
        # a bare struct is never NULL, so it would smuggle null
        # elements back in.  Same struct multiset → same sort/slice.
        return (
            f"transform(slice(sort_array(collect_list("
            f"CASE WHEN ({args[0]}) IS NULL THEN NULL ELSE "
            f"named_struct('h', {h}, 'x', {args[0]}) END)), 1, {n}), "
            f"__gp -> __gp.x)"
        )
    if name == "groupArrayLast" and params:
        # CH keeps the LAST n in INSERTION order — order-dependent in
        # any distributed engine (CH's own result shifts with merge
        # order).  The deterministic tier requires the order spelled:
        # the two-arg extension groupArrayLast(n)(x, ord) keeps the
        # last n by ord (slice from the end of the ord-sorted
        # multiset); the bare one-arg form refuses.
        if len(args) == 2 and len(params) == 1:
            x, ordc = args
            n = params[0]
            # single-element-transform binding so the collected array
            # aggregates ONCE; slice start 0 is illegal, so the
            # empty/short cases guard explicitly
            k = f"least(CAST({n} AS INT), size(__ga))"
            return (
                f"element_at(transform(array(sort_array("
                f"collect_list(named_struct('o', {ordc}, 'x', {x})))), "
                f"__ga -> CASE WHEN size(__ga) = 0 OR ({n}) <= 0 "
                f"THEN slice(transform(__ga, __ge -> __ge.x), 1, 0) "
                f"ELSE transform("
                f"slice(__ga, -{k}, {k}), __gl -> __gl.x) END), 1)"
            )
        raise DialectError(
            "groupArrayLast keeps the LAST n in insertion order — "
            "order-dependent in a distributed engine; spell the "
            "order with the deterministic two-arg tier "
            "groupArrayLast(n)(x, ord) (last n by ord), or "
            "groupArraySorted over a negated key"
        )
    if (
        name in ("quantileMerge", "quantileExactMerge")
        and len(params) == 1
        and len(args) == 1
    ):
        # parametric level over the portable sorted-multiset state
        return _q_merge_sql(args[0], params[0], restate=False)
    if (
        name == "quantileTimingMerge"
        and len(params) == 1
        and len(args) == 1
    ):
        return _qt_merge_sql(args[0], params[0], restate=False)
    if name == "quantileDeterministic" and len(params) == 1 and args:
        # (x, determinator): the determinator only stabilizes CH's
        # sampling — percentile_approx is already deterministic
        return f"percentile_approx({args[0]}, {params[0]})"
    if name == "quantilesDeterministic" and params and args:
        # the plural twin (r14 batch 26)
        return (
            f"percentile_approx({args[0]}, "
            f"array({', '.join(params)}))"
        )
    if (
        name.endswith("If")
        and name[:-2] in ("quantile", "quantileTDigest", "quantileTiming")
        and len(params) == 1
        and len(args) == 2
    ):
        return (
            f"percentile_approx(CASE WHEN {args[1]} THEN {args[0]} END, "
            f"{params[0]})"
        )
    if name == "topK" and len(params) in (1, 2, 3) and len(args) == 1:
        # exact tier of ClickHouse's approximate sketch (see
        # _topk_exact); events_topk_sketch is the sketch-shaped
        # scale operator.  Extended params: load_factor is a sketch
        # sizing hint (meaningless for the exact tier — ignored);
        # the 'counts' mode changes the result SHAPE and refuses
        if len(params) == 3 and "counts" in params[2].lower():
            raise DialectError(
                "topK(N, lf, 'counts') returns (value, count) "
                "tuples — spell it directly: the _topk_exact RLE "
                "fold (see sumMap) keeps the counts before the "
                "final value projection"
            )
        return _topk_exact(args[0], params[0])
    if (
        name in ("uniqCombined", "uniqCombined64")
        and len(params) == 1
        and len(args) >= 1
    ):
        # precision form: K = log2(registers); Spark's HLL knob is
        # relative standard deviation — the textbook equivalence is
        # rsd = 1.04 / sqrt(2^K) (same register count), folded to a
        # constant at transpile time for literal K
        try:
            k = int(params[0])
        except ValueError:
            raise DialectError(
                f"{name} precision must be a literal integer"
            )
        rsd = max(0.01, min(0.36, 1.04 / (2.0 ** (k / 2.0))))
        cols = ", ".join(args)
        return f"approx_count_distinct({cols}, {rsd:.6f})"
    if (
        name in ("sumMapFiltered", "minMapFiltered", "maxMapFiltered")
        and len(params) == 1
        and len(args) == 2
    ):
        # keep only the whitelisted keys BEFORE the per-key fold —
        # the filter runs row-local, so the collected state only
        # ever holds whitelisted pairs
        keys, vals = args
        keep = params[0]
        if keep.startswith("["):
            keep = f"array({keep[1:-1]})"
        flt = (
            f"filter(zip_with({keys}, {vals}, "
            f"(__fk, __fv) -> named_struct('k', __fk, 'v', __fv)), "
            f"__fp -> array_contains({keep}, __fp.k))"
        )
        return _render_call(
            name.removesuffix("Filtered"),
            [f"transform({flt}, __fp -> __fp.k)",
             f"transform({flt}, __fp -> __fp.v)"],
        )
    if name == "uniqUpTo" and len(params) == 1 and args:
        # exact distinct count saturating at k+1 (CH's contract:
        # "k+1 means more than k")
        return (
            f"least(count(DISTINCT {', '.join(args)}), "
            f"CAST(({params[0]}) + 1 AS BIGINT))"
        )
    if name == "windowFunnel" and len(args) >= 2:
        win_us = f"CAST({params[0]} AS BIGINT) * 1000000"
        if len(params) == 1:
            return _window_funnel_fold(win_us, args[0], args[1:])
        modes = set()
        for p in params[1:]:
            m = p.strip().strip("'").lower()
            if m == "strict":  # deprecated CH alias
                m = "strict_dedup"
            if m not in (
                "strict_order", "strict_dedup", "strict_increase",
            ):
                raise DialectError(
                    f"unknown windowFunnel mode {p}; supported: "
                    "'strict_order', 'strict_dedup', 'strict_increase'"
                )
            modes.add(m)
        return _window_funnel_modes_fold(
            win_us,
            args[0],
            args[1:],
            strict_order="strict_order" in modes,
            strict_dedup="strict_dedup" in modes,
            strict_increase="strict_increase" in modes,
        )
    if name == "sequenceMatch" and len(params) == 1 and len(args) >= 2:
        refs, links = _parse_sequence_pattern(params[0])
        if max(refs) > len(args) - 1:
            raise DialectError(
                f"sequenceMatch pattern references condition "
                f"(?{max(refs)}) but only {len(args) - 1} were "
                "supplied"
            )
        # extra unreferenced conditions are legal and MEANINGFUL:
        # they make events visible to adjacency (CH's documented
        # chain-breaking example) — only the pure-subsequence case
        # with no extras may take the shared windowFunnel path
        if (
            refs == list(range(1, len(refs) + 1))
            and max(refs) == len(args) - 1
            and all(k[0] == "any" for k in links)
        ):
            # plain ordered subsequence: the windowFunnel DP with an
            # unbounded window (shared, plan-tested path)
            win = str((1 << 62) - 1)
            return (
                f"CAST({_window_funnel_fold(win, args[0], args[1:])} "
                f"= {len(refs)} AS SMALLINT)"
            )
        # adjacency / time guards / repeated-or-reordered refs:
        # the generalized extremal-anchor fold (r8); two-sided or
        # exact gap guards need the full per-level anchor lists
        if _needs_anchor_lists(links):
            return _sequence_match_fold_anchors(
                args[0], args[1:], refs, links
            )
        return _sequence_match_fold(args[0], args[1:], refs, links)
    if name == "sequenceCount" and len(params) == 1 and len(args) >= 2:
        n = _sequence_chain_len(params[0])
        if n != len(args) - 1:
            raise DialectError(
                f"sequenceCount pattern references {n} conditions but "
                f"{len(args) - 1} were supplied"
            )
        # ClickHouse restart semantics (see _sequence_count_fold);
        # the pending-pool greedy variant is events_sequence_count
        return _sequence_count_fold(args[0], args[1:])
    if name == "topKWeighted" and len(params) == 1 and len(args) == 2:
        # exact tier of ClickHouse's weighted sketch (see
        # _topk_weighted_exact); events_topk_weighted is the
        # dedicated scale operator
        return _topk_weighted_exact(args[0], args[1], params[0])
    if name == "meanZTest" and len(params) == 3 and len(args) == 2:
        # meanZTest(σx², σy², conf)(x, ind): the variances are GIVEN
        # population constants, so the whole statistic is a FLAT
        # conditional-sum aggregate — z = (x̄₀-x̄₁)/√(σx²/n₀+σy²/n₁),
        # p = erfc(|z|/√2), CI on the mean difference at `conf`.
        # The confidence quantile Φ⁻¹((1+conf)/2) folds to a constant
        # at transpile time (CH parametric params are literals), via
        # the stdlib's exact inverse normal CDF — no runtime UDF on
        # the CI path; the p-value reuses the libm-exact ch_erfc
        # compat UDF (applied to aggregate OUTPUT rows only).
        vx, vy, conf = params
        try:
            conf_f = float(conf)
            float(vx), float(vy)
        except ValueError:
            raise DialectError(
                "meanZTest(variance_x, variance_y, confidence) takes "
                "numeric literal parameters"
            )
        if not 0.0 < conf_f < 1.0:
            raise DialectError(
                "meanZTest confidence level must be in (0, 1)"
            )
        from statistics import NormalDist

        zcrit = NormalDist().inv_cdf((1.0 + conf_f) / 2.0)
        x, raw_ind = args
        ind = f"CAST(({raw_ind}) AS INT)"
        d = "DECIMAL(38,6)"
        n0 = f"CAST(count_if(({ind}) = 0) AS DOUBLE)"
        n1 = f"CAST(count_if(({ind}) = 1) AS DOUBLE)"
        s0 = (f"CAST(sum(CASE WHEN ({ind}) = 0 THEN "
              f"CAST({x} AS {d}) END) AS DOUBLE)")
        s1 = (f"CAST(sum(CASE WHEN ({ind}) = 1 THEN "
              f"CAST({x} AS {d}) END) AS DOUBLE)")
        m0, m1 = f"(({s0}) / ({n0}))", f"(({s1}) / ({n1}))"
        se = f"sqrt(({vx}) / ({n0}) + ({vy}) / ({n1}))"
        diff = f"(({m0}) - ({m1}))"
        z = f"(({diff}) / ({se}))"
        return (
            f"named_struct('z_stat', {z}, "
            f"'p_value', ch_erfc(abs({z}) / sqrt(2.0)), "
            f"'ci_low', ({diff}) - ({zcrit!r}) * ({se}), "
            f"'ci_high', ({diff}) + ({zcrit!r}) * ({se}))"
        )
    raise DialectError(f"unsupported parametric aggregate: {name}")


_PARAMETRIC = {
    "groupConcat",
    "quantileExactWeighted",
    "quantilesExactWeighted",
    "quantileExactWeightedIf",
    "quantilesExactWeightedIf",
    "quantilesIf",
    "topKIf",
    "windowFunnelIf",
    "sequenceMatchIf",
    "sequenceCountIf",
    "medianExactWeighted",
    "meanZTest",
    "quantilesGK",
    "quantile",
    "uniqCombined",
    "uniqCombined64",
    "sumMapFiltered",
    "minMapFiltered",
    "maxMapFiltered",
    "quantileBFloat16",
    "quantileGK",
    "quantileDD",
    "quantilesDD",
    "medianDD",
    "quantileExactInclusive",
    "quantileExactExclusive",
    "quantilesExactInclusive",
    "quantilesExactExclusive",
    "quantileInterpolatedWeighted",
    "groupArraySample",
    "groupArrayLast",
    "quantileExact",
    "quantiles",
    "quantilesExact",
    "quantilesTiming",
    "quantilesTDigest",
    "quantilesBFloat16",
    "quantilesDeterministic",
    "quantileExactLow",
    "quantileExactHigh",
    "quantileExactIf",
    "quantileIf",
    "quantileTDigestIf",
    "quantileTimingIf",
    "quantileDeterministic",
    "quantileMerge",
    "quantileExactMerge",
    "quantileTimingMerge",
    "uniqUpTo",
    "quantileTDigest",
    "quantileTiming",
    "groupArraySorted",
    "topK",
    "topKWeighted",
    "windowFunnel",
    "sequenceMatch",
    "sequenceCount",
    "histogram",
}


def _walk(
    toks: list[str], start: int, end: int, drop_comments: bool = False
) -> str:
    out: list[str] = []
    i = start
    last_code = ""  # last non-whitespace token emitted (for [ disambiguation)
    # `primary_start` tracks the out-index where the current indexable
    # primary expression (ident, dotted name, rendered call, literal,
    # or parenthesized group) begins, so a following [expr] subscript
    # can wrap it in try_element_at (ClickHouse subscripts are
    # 1-based, negatives count from the end — try_element_at's exact
    # contract; module doc covers the NULL-vs-default miss value).
    primary_start: int | None = None
    paren_stack: list[int] = []  # out-indices of plain open parens
    while i < end:
        t = toks[i]
        if drop_comments and (t.startswith("--") or t.startswith("/*")):
            i += 1
            continue
        if t == "[":
            literal = last_code not in ("]", ")") and (
                not _is_ident(last_code)
                or last_code.upper() in _LITERAL_CONTEXT_KEYWORDS
            )
            if literal:
                # ClickHouse array literal [a, b, c] → array(a, b, c).
                # After a column/alias identifier or ) / ] the bracket
                # is indexing (arr[1]); after a KEYWORD (SELECT, THEN,
                # IN, AND, ...) or an operator it can only be a
                # literal.  `x IN [a, b]` (membership in a literal
                # array) becomes Spark's list form `IN (a, b)`.
                elems, k = _parse_args(toks, i, "[", "]")
                if last_code.upper() == "IN":
                    rendered = f"({', '.join(elems)})"
                else:
                    rendered = f"array({', '.join(elems)})"
                primary_start = len(out)
                out.append(rendered)
                last_code = "]"  # rendered call ends like a paren close
                i = k
                continue
            if primary_start is not None:
                # 1-based subscript: base[expr] → try_element_at(base,
                # expr).  Chains (arr[1][2], map access m['k']) loop
                # naturally — the wrapped call is itself a primary.
                idx, k = _parse_args(toks, i, "[", "]")
                if len(idx) != 1:
                    raise DialectError(
                        "subscript takes exactly one expression"
                    )
                base = "".join(out[primary_start:]).rstrip()
                out[primary_start:] = [
                    f"try_element_at({base}, {idx[0]})"
                ]
                last_code = ")"
                i = k
                continue
        j = _next_code(toks, i + 1)
        if _is_ident(t) and j < end and toks[j] == "(":
            name = t
            first, k = _parse_args(toks, j)
            j2 = _next_code(toks, k)
            if (
                name in _PARAMETRIC
                or (
                    name.endswith("Resample")
                    and len(name) > len("Resample")
                )
            ) and j2 < end and toks[j2] == "(":
                second, k2 = _parse_args(toks, j2)
                primary_start = len(out)
                out.append(_render_parametric(name, first, second))
                i = k2
            else:
                if (
                    j2 < end
                    and toks[j2] == "("
                    and name.upper() not in (
                        # heads that legitimately precede a paren
                        # group in SQL text
                        "VALUES", "IN", "EXISTS", "ANY", "ALL",
                        "SOME", "OVER",
                    )
                    and not name.endswith("State")
                    and not name.endswith("Merge")
                ):
                    # fn(params)(args) with an unknown head would
                    # pass through as `fn(params) (args)` — never
                    # valid Spark SQL, so the user would get an
                    # opaque parse error; let a name-specific
                    # refusal (with its pointer) speak first, else
                    # name the gap generically
                    _render_call(name, first)  # may raise specific
                    raise DialectError(
                        f"parametric aggregate {name}(…)(…) is not "
                        "transpiled; supported parametric registers: "
                        + ", ".join(sorted(_PARAMETRIC))
                    )
                primary_start = len(out)
                out.append(_render_call(name, first))
                i = k
            last_code = ")"
        else:
            if not _is_skippable(t):
                if _is_ident(t):
                    if last_code != "." or primary_start is None:
                        primary_start = len(out)
                elif t == ".":
                    if not (
                        _is_ident(last_code) or last_code in (")", "]")
                    ):
                        primary_start = None
                elif t == "(":
                    paren_stack.append(len(out))
                    primary_start = None
                elif t == ")":
                    primary_start = (
                        paren_stack.pop() if paren_stack else None
                    )
                else:
                    primary_start = None
                last_code = t
            out.append(t)
            i += 1
    return "".join(out)


_KEYWORD_STOP = {
    # tokens that end a GROUP BY expression list at depth 0
    "WITH", "HAVING", "ORDER", "LIMIT", "SETTINGS", "UNION", ")", ";",
}


#: tokens that end one ``expr AS alias`` item of an ARRAY JOIN list
_ARRAY_JOIN_STOP = _KEYWORD_STOP | {
    "AS", ",", "WHERE", "GROUP", "PREWHERE", "INNER", "JOIN", "LEFT",
    "RIGHT", "FULL", "CROSS",
}


def _rewrite_clauses(toks: list[str]) -> list[str]:
    """Clause-level ClickHouse syntax, before expression rewriting:

    * ``PREWHERE cond`` → ``WHERE cond``.  PREWHERE is ClickHouse's
      manual read-two-phases hint; Catalyst's predicate pushdown makes
      the plan identical either way, so the honest mapping is WHERE.
    * ``GROUP BY <exprs> WITH TOTALS`` → ``GROUP BY GROUPING SETS
      ((<exprs>), ())``: the totals row is the empty grouping set,
      which Spark computes in the same single aggregate pass
      (grouping-set expansion), not a second scan.
    * a trailing ``SETTINGS k = v, ...`` clause is DROPPED: those are
      ClickHouse server-tuning knobs (max_threads, max_memory_usage)
      with no Spark meaning; the session configs in ``session.py`` are
      the cluster-level equivalent.  Dropping beats erroring — the
      query's semantics don't depend on them.
    * a trailing ``FORMAT <name>`` clause is DROPPED likewise: it
      selects ClickHouse's wire serialization, not query semantics —
      the Spark equivalent is the DataFrameWriter you hand the result
      to.
    * ``[LEFT] ARRAY JOIN <expr> AS <alias>`` → ``LATERAL VIEW
      [OUTER] explode(<expr>) _aj AS <alias>``: ClickHouse's
      structural row-expansion clause; LEFT keeps rows with empty
      arrays (explode_outer semantics = LATERAL VIEW OUTER).
      Documented divergence: on an empty array, LEFT ARRAY JOIN
      yields the element type's DEFAULT (0/'') in ClickHouse but
      NULL here — the same NULL-as-miss-value policy as arrayFirst
      and arr[n]; ``coalesce()`` the alias for CH-identical output.
      The
      alias-less form (where the element shadows the array column's
      own name) and the multi-array zip form raise
      :class:`DialectError` with guidance, rather than silently
      shadowing or fanning out N×M.
    * ``GLOBAL`` before IN/JOIN is DROPPED: it is ClickHouse's
      distributed-subquery shipping hint; Spark plans distribution
      (broadcast vs shuffle) itself.
    * ``FROM <t> FINAL`` raises :class:`DialectError`: FINAL changes
      RESULTS (it forces merge-collapse of a Replacing/Collapsing
      engine), so silently dropping it would be wrong — the mapping is
      the explicit MergeTree reads in ``operators/mergetree.py``.
    """
    out = list(toks)
    for i, t in enumerate(out):
        if t.upper() == "PREWHERE":
            out[i] = "WHERE"
    # GLOBAL IN / GLOBAL [NOT] IN / GLOBAL [strictness] [type] JOIN:
    # drop the shipping hint.  Only when the follower really is the
    # join/in grammar — a column named global followed by e.g. the
    # left() function must survive.
    i = 0
    while i < len(out):
        if out[i].upper() == "GLOBAL":
            j = _next_code(out, i + 1)
            u1 = out[j].upper() if j < len(out) else ""
            k = _next_code(out, j + 1) if j < len(out) else len(out)
            u2 = out[k].upper() if k < len(out) else ""
            is_hint = (
                u1 in ("IN", "JOIN")
                or (u1 == "NOT" and u2 == "IN")
                or (
                    u1 in ("ANY", "ALL", "LEFT", "INNER", "RIGHT")
                    and u2 in ("JOIN", "LEFT", "INNER", "RIGHT")
                )
            )
            if is_hint:
                del out[i:j]
                continue
        i += 1
    # FROM <t> FINAL: refuse explicitly (see module doc).  The table
    # reference may be qualified (db.tbl) or backtick-quoted — consume
    # the whole dotted name run before looking for FINAL.
    def _is_name_part(tok: str) -> bool:
        return _is_ident(tok) or tok.startswith("`")

    for i, t in enumerate(out):
        if t.upper() == "FROM":
            j = _next_code(out, i + 1)
            if j >= len(out) or not _is_name_part(out[j]):
                continue
            k = _next_code(out, j + 1)
            while (
                k < len(out)
                and out[k] == "."
                and (n2 := _next_code(out, k + 1)) < len(out)
                and _is_name_part(out[n2])
            ):
                k = _next_code(out, n2 + 1)
            if k < len(out) and out[k].upper() == "FINAL":
                raise DialectError(
                    "FROM ... FINAL forces engine merge-collapse and "
                    "changes results; use the explicit MergeTree reads "
                    "(operators/mergetree.py: mergetree_replacing_final "
                    "et al.) instead of a silent drop"
                )
    # structural clauses with dedicated operators: refuse with pointers
    # (a silent pass-through would surface as an opaque Spark parse
    # error; a silent drop would change results)
    for i, t in enumerate(out):
        u = t.upper()
        j = _next_code(out, i + 1)
        if u == "WITH" and j < len(out) and out[j].upper() == "FILL":
            # only mid-query (after ORDER BY): a CTE named fill starts
            # a statement or a parenthesized subquery
            p = i - 1
            while p >= 0 and _is_skippable(out[p]):
                p -= 1
            if p >= 0 and out[p] not in ("(", ";"):
                raise DialectError(
                    "ORDER BY ... WITH FILL is not Spark syntax; "
                    "generate the spine with sequence() + explode and "
                    "left-join (see events_gap_fill / "
                    "events_gap_interpolate)"
                )
        if u == "INTO" and j < len(out) and out[j].upper() == "OUTFILE":
            raise DialectError(
                "INTO OUTFILE is a client-side ClickHouse feature; use "
                "DataFrameWriter (df.write...) — see export_shards for "
                "the deterministic sharded-export pattern"
            )
    # ANY/ALL/ASOF join strictness keywords: refuse explicitly — each
    # has a dedicated operator whose plan carries the right semantics.
    # (LEFT SEMI / LEFT ANTI are valid Spark syntax and pass through.)
    for i, t in enumerate(out):
        if t.upper() in ("ANY", "ALL", "ASOF"):
            j = _next_code(out, i + 1)
            is_join = j < len(out) and out[j].upper() == "JOIN"
            if not is_join and j < len(out) and out[j].upper() in (
                "LEFT", "RIGHT", "INNER",
            ):
                k = _next_code(out, j + 1)
                is_join = k < len(out) and out[k].upper() == "JOIN"
            if is_join:
                raise DialectError(
                    f"{t.upper()} JOIN strictness is not a Spark syntax; "
                    "use the dedicated operators (any_left_join for ANY, "
                    "events_asof_join for ASOF; ALL is Spark's default "
                    "join semantics — drop the keyword)"
                )
    # [LEFT] ARRAY JOIN expr AS alias → LATERAL VIEW [OUTER] explode
    i = 0
    while i < len(out):
        if out[i].upper() == "ARRAY":
            j = _next_code(out, i + 1)
            if j < len(out) and out[j].upper() == "JOIN":
                left = False
                start = i
                # check for a preceding LEFT
                p = start - 1
                while p >= 0 and _is_skippable(out[p]):
                    p -= 1
                if p >= 0 and out[p].upper() == "LEFT":
                    left = True
                    start = p
                # capture one or more `expr AS alias` items (the
                # comma-separated multi-array form is ClickHouse's ZIP
                # semantics: arrays walk in lockstep)
                pairs: list[tuple[str, str]] = []
                k = j + 1
                end_i = None
                while True:
                    expr_start = k
                    as_i = next(
                        (m for m in _top_level(out, k)
                         if out[m].upper() in _ARRAY_JOIN_STOP),
                        None,
                    )
                    if as_i is None or out[as_i].upper() != "AS":
                        raise DialectError(
                            "ARRAY JOIN without AS <alias> shadows the "
                            "array column's name; write ARRAY JOIN "
                            "<expr> AS <alias>"
                        )
                    alias_i = _next_code(out, as_i + 1)
                    if alias_i >= len(out) or not _is_ident(out[alias_i]):
                        raise DialectError(
                            "ARRAY JOIN: missing alias after AS"
                        )
                    pairs.append(
                        ("".join(out[expr_start:as_i]).strip(),
                         out[alias_i])
                    )
                    after = _next_code(out, alias_i + 1)
                    if after < len(out) and out[after] == ",":
                        k = after + 1
                        continue
                    end_i = alias_i
                    break
                outer = " OUTER" if left else ""
                if len(pairs) == 1:
                    gen = f"explode({pairs[0][0]}) _aj AS {pairs[0][1]}"
                else:
                    # zip semantics via inline(arrays_zip(...)): one
                    # generator, aliases positional.  Divergence:
                    # ClickHouse errors on unequal lengths; arrays_zip
                    # NULL-pads to the longest — a graceful refinement.
                    exprs = ", ".join(e for e, _ in pairs)
                    aliases = ", ".join(a for _, a in pairs)
                    gen = f"inline(arrays_zip({exprs})) _aj AS {aliases}"
                out[start : end_i + 1] = [f" LATERAL VIEW{outer} {gen}"]
                i = start
                continue
        i += 1
    # strip SETTINGS ... (to end of statement / set-op / paren) at
    # any depth (ClickHouse allows SETTINGS on subquery SELECTs too);
    # only the real clause shape `SETTINGS name = value` — a column
    # that happens to be named settings is never followed by `ident =`
    i = 0
    while i < len(out):
        if out[i].upper() == "SETTINGS" and (
            (g1 := _next_code(out, i + 1)) < len(out)
            and _is_ident(out[g1])
            and (g2 := _next_code(out, g1 + 1)) < len(out)
            and out[g2] == "="
        ):
            j = next(
                (j for j in _top_level(out, i)
                 if out[j] in (")", "]", ";")
                 or out[j].upper() in ("UNION", "EXCEPT", "INTERSECT")),
                len(out),
            )
            del out[i:j]
            continue
        i += 1
    # FORMAT <name> only at statement end (ClickHouse grammar):
    # followed by nothing or ';' — never mid-query, so a column
    # actually named `format` is untouched
    formats = []
    for i in _top_level(out):
        if (
            out[i].upper() == "FORMAT"
            and (j := _next_code(out, i + 1)) < len(out)
            and _is_ident(out[j])
            and ((k := _next_code(out, j + 1)) >= len(out) or out[k] == ";")
        ):
            formats.append(i)
    for i in reversed(formats):
        del out[i:_next_code(out, i + 1) + 1]
    # GROUP BY ... WITH TOTALS
    i = 0
    while i < len(out):
        if out[i].upper() == "GROUP":
            j = _next_code(out, i + 1)
            if j < len(out) and out[j].upper() == "BY":
                # the end of the expression list at depth 0
                end = next(
                    (k for k in _top_level(out, j + 1)
                     if out[k].upper() in _KEYWORD_STOP),
                    len(out),
                )
                if (
                    end < len(out)
                    and out[end].upper() == "WITH"
                    and (m := _next_code(out, end + 1)) < len(out)
                    and out[m].upper() == "TOTALS"
                ):
                    exprs = "".join(out[j + 1 : end]).strip()
                    out[j + 1 : m + 1] = [
                        f" GROUPING SETS (({exprs}), ())"
                    ]
        i += 1
    return out


def _find_limit_by(toks: list[str]):
    """Locate the first ClickHouse ``LIMIT [o,]n BY`` clause at any
    depth; return (seg_start, seg_end, limit_i, offset, count,
    by_start) or None.  seg bounds delimit the enclosing SELECT (the
    whole statement, or the parenthesized subquery's interior)."""
    stack: list[int] = []
    for i, t in enumerate(toks):
        if t in ("(", "["):
            stack.append(i)
        elif t in (")", "]"):
            if stack:
                stack.pop()
        elif t.upper() == "LIMIT":
            j = _next_code(toks, i + 1)
            if j >= len(toks) or not toks[j].isdigit():
                continue
            off, cnt = 0, int(toks[j])
            k = _next_code(toks, j + 1)
            if k < len(toks) and toks[k] == ",":
                m = _next_code(toks, k + 1)
                if m < len(toks) and toks[m].isdigit():
                    off, cnt = cnt, int(toks[m])
                    k = _next_code(toks, m + 1)
            elif k < len(toks) and toks[k].upper() == "OFFSET":
                m = _next_code(toks, k + 1)
                if m < len(toks) and toks[m].isdigit():
                    off = int(toks[m])
                    k = _next_code(toks, m + 1)
            if k < len(toks) and toks[k].upper() == "BY":
                seg_start = stack[-1] + 1 if stack else 0
                seg_end = _match_close(toks, stack[-1]) if stack else len(toks)
                return seg_start, seg_end, i, off, cnt, k + 1
    return None


def _rewrite_limit_by(toks: list[str], resolve_columns=None) -> list[str]:
    """``SELECT … [ORDER BY o] LIMIT [off,]n BY exprs [LIMIT m]`` →
    the ``limit_by_analog`` pattern: rank rows per distinct value of
    the BY expressions with ``row_number()`` over the query's ORDER
    BY (ClickHouse applies ORDER BY before LIMIT BY) and keep ranks
    (off, off+n].  ``SELECT * EXCEPT`` drops the rank column, so the
    output schema matches ClickHouse's exactly.  One extra shuffle
    (the window partitioning) — the same plan a hand-written Spark
    spelling needs.

    Two window placements, because Spark forbids lateral column
    aliases inside windows but allows unselected base columns there
    (and vice versa for a wrapping subquery): by default the window
    ranks OVER the query's own output (select aliases resolve); when
    the catalog resolver shows that a BY/ORDER identifier is NOT in
    the query's output (ClickHouse's rank-by-unselected-column
    idiom), the window is injected INTO the select list instead, where
    base-table columns are in scope."""
    while True:
        hit = _find_limit_by(toks)
        if hit is None:
            return toks
        seg_start, seg_end, limit_i, off, cnt, by_start = hit
        # optional ORDER BY before the LIMIT, at segment depth 0
        ord_start = ord_exprs_start = None
        for i in _top_level(toks, seg_start, limit_i):
            if toks[i].upper() == "ORDER":
                j = _next_code(toks, i + 1)
                if j < limit_i and toks[j].upper() == "BY":
                    ord_start, ord_exprs_start = i, j + 1
        # BY expression list ends at segment-depth-0 LIMIT or seg_end
        by_end = seg_end
        tail = ""
        for i in _top_level(toks, by_start, seg_end):
            t = toks[i]
            if t.upper() in ("UNION", "EXCEPT", "INTERSECT"):
                raise DialectError(
                    "LIMIT n BY followed by a set operation is "
                    "ambiguous; parenthesize the branch the LIMIT BY "
                    "belongs to"
                )
            elif t.upper() == "LIMIT":
                by_end = i
                tail = "".join(toks[i:seg_end]).strip()
                break
        by_text = "".join(toks[by_start:by_end]).strip()
        if not by_text:
            raise DialectError("LIMIT ... BY: empty BY expression list")
        head_end = ord_start if ord_start is not None else limit_i
        head_text = "".join(toks[seg_start:head_end]).strip()
        ord_text = (
            "".join(toks[ord_exprs_start:limit_i]).strip()
            if ord_start is not None
            else ""
        )
        win_ord = ord_text or by_text
        cond = f"__limit_by_rn <= {off + cnt}"
        if off:
            cond += f" AND __limit_by_rn > {off}"
        win = (
            f"row_number() OVER (PARTITION BY {by_text} "
            f"ORDER BY {win_ord}) AS __limit_by_rn"
        )
        ref_toks = [
            t for t in _tokens(f"{by_text}, {win_ord}")
            if not _is_skippable(t)
        ]
        refs = {
            t.lower()
            for m, t in enumerate(ref_toks)
            if _is_ident(t)
            and t.upper() not in (
                "ASC", "DESC", "NULLS", "FIRST", "LAST",
                "AND", "OR", "NOT", "CASE", "WHEN", "THEN",
                "ELSE", "END", "IS", "NULL", "IN",
            )
            # a head followed by '(' is a FUNCTION, not a column
            # ref (code-review r15c: lower(y) forced inject)
            and not (
                m + 1 < len(ref_toks) and ref_toks[m + 1] == "("
            )
        }
        inject = False
        head_cols = (
            resolve_columns(f"({head_text})")
            if resolve_columns is not None else None
        )
        if head_cols is None:
            # resolver-blind fallback (r15 batch 31): decide from
            # the TEXTUAL select list — a BY/ORDER ref that is not
            # an output name of the head needs the inject path (CH
            # ranks by unselected base columns; the simple wrap
            # left them unresolvable over temp views the catalog
            # resolver doesn't know)
            head_cols = _select_out_names(head_text)
        if head_cols is not None:
            # Spark resolves identifiers case-insensitively —
            # compare casefolded (code-review r15c)
            cols_cf = {c.lower() for c in head_cols}
            inject = any(r not in cols_cf for r in refs)
        if inject:
            # rank inside the query's own select list, where
            # unselected base-table columns are in scope
            head_toks = _tokens(head_text)
            from_i = next(
                (hi for hi in _top_level(head_toks)
                 if head_toks[hi].upper() == "FROM"),
                None,
            )
            if from_i is None:
                raise DialectError("LIMIT BY: query has no FROM clause")
            head_with_rn = (
                "".join(head_toks[:from_i])
                + f", {win} "
                + "".join(head_toks[from_i:])
            )
            repl = (
                f"SELECT * EXCEPT (__limit_by_rn) FROM ({head_with_rn}) "
                f"__limit_by_src WHERE {cond}"
            )
            # an outer ORDER BY on unselected sort columns cannot
            # resolve over the projected output — drop it (relational
            # result identical; presentation order is not part of the
            # hash contract)
            ord_ok = ord_text and all(
                t in (head_cols or [])
                for t in _tokens(ord_text)
                if _is_ident(t)
                and t.upper() not in ("ASC", "DESC", "NULLS", "FIRST",
                                      "LAST")
            )
            if ord_ok:
                repl += f" ORDER BY {ord_text}"
        else:
            repl = (
                "SELECT * EXCEPT (__limit_by_rn) FROM (SELECT *, "
                f"{win} FROM ({head_text}) __limit_by_src) WHERE {cond}"
            )
            if ord_text:
                repl += f" ORDER BY {ord_text}"
        if tail:
            repl += f" {tail}"
        toks[seg_start:seg_end] = [repl]
        toks = _tokens("".join(toks))


_FILL_STOP = {"FROM", "TO", "STEP", "LIMIT", "INTERPOLATE", ";"}


def _rewrite_with_fill(toks: list[str], resolve_columns=None) -> list[str]:
    """Top-level ``ORDER BY x WITH FILL [FROM a] [TO b] [STEP s]`` →
    the ``events_gap_fill`` pattern: explode a ``sequence()`` spine
    and left-join the query to it.  FROM/TO default to the query's
    own min/max (scalar subqueries); TO is exclusive (ClickHouse
    semantics) via a ``filter(…, x -> x < TO)`` over the inclusive
    sequence — type-agnostic, so integer keys and date/timestamp
    keys with ``STEP INTERVAL 1 DAY`` take the same shape.  (A
    date-typed key with no explicit STEP errors at runtime — write
    the INTERVAL step.)  Missing rows carry NULL in the non-key
    columns where ClickHouse fills type defaults — the module's
    documented miss-value divergence.

    ``ORDER BY k1, ..., x WITH FILL`` (multi-key) treats the leading
    keys as a grouping axis: the spine is built PER distinct leading-
    key combination (one grouped min/max aggregate — keyed and
    scale-shaped, no global spine), joined back USING all keys.
    ``ORDER BY x DESC WITH FILL`` walks the spine downward (negative
    step; FROM defaults to max, TO stays exclusive on the low side).
    Expression keys refuse with the events_gap_fill pointer."""
    # find the LAST top-level ORDER BY (set-op tails bind to it)
    ord_i = None
    for i in _top_level(toks):
        if toks[i].upper() == "ORDER":
            j = _next_code(toks, i + 1)
            if j < len(toks) and toks[j].upper() == "BY":
                ord_i = i
    if ord_i is None:
        return toks
    by_i = _next_code(toks, ord_i + 1)
    # the ORDER BY list ends at a depth-0 WITH FILL, or not ours
    # (WITH TOTALS / ROLLUP / CUBE, LIMIT, ...)
    fill_i = next(
        (i for i in _top_level(toks, by_i + 1) if toks[i].upper() in (
            "WITH", "LIMIT", "SETTINGS", "FORMAT", ";",
        )),
        len(toks),
    )
    fill_kw_end = _next_code(toks, fill_i + 1)
    if not (
        fill_kw_end < len(toks) and toks[fill_i].upper() == "WITH"
        and toks[fill_kw_end].upper() == "FILL"
    ):
        return toks
    fill_kw_end += 1
    # ORDER BY list: plain leading keys (grouping axis), the LAST one
    # carries the fill; ASC/DESC per key, DESC allowed on the fill
    # key.  The fill key may be an EXPRESSION (ORDER BY
    # toStartOfDay(ts) WITH FILL …): it is computed as a derived
    # column over the query (named by its expression text, the
    # ClickHouse auto-name) and the spine machinery runs on that
    # column unchanged — the result then carries the fill axis as an
    # output column (documented divergence: ClickHouse fills a
    # positional sort axis without projecting it).
    groups = _split_commas(toks[by_i + 1 : fill_i])
    keys: list[tuple[str, bool]] = []  # (ident, desc)
    fill_expr = None  # (expr_sql, auto_name) for an expression key
    for gi, g in enumerate(groups):
        code = [k for k, t in enumerate(g) if not _is_skippable(t)]
        desc = False
        if code and g[code[-1]].upper() == "ASC":
            g = g[: code[-1]]
            code = code[:-1]
        elif code and g[code[-1]].upper() == "DESC":
            desc = True
            g = g[: code[-1]]
            code = code[:-1]
        if len(code) == 1 and _is_ident(g[code[0]]):
            keys.append((g[code[0]], desc))
            continue
        if gi != len(groups) - 1 or not code:
            raise DialectError(
                "WITH FILL leading (grouping) keys must be plain "
                "columns/aliases; for expression grouping keys use "
                "events_gap_fill"
            )
        expr = "".join(g).strip()
        auto = "".join(t for t in g if not _is_skippable(t))
        fill_expr = (expr, auto)
        keys.append((f"`{auto}`", desc))
    lead = keys[:-1]
    if any(d for _, d in lead):
        raise DialectError(
            "WITH FILL: DESC on a leading (grouping) key is not "
            "supported; use events_gap_fill"
        )
    x, x_desc = keys[-1]
    # parse FROM / TO / STEP expression spans (+ optional INTERPOLATE)
    spans: dict[str, str] = {}
    interp: list[str] = []
    i = fill_kw_end
    tail = ""
    while i < len(toks):
        j = _next_code(toks, i)
        if j >= len(toks) or toks[j] == ";":
            break
        u = toks[j].upper()
        if u == "INTERPOLATE":
            # INTERPOLATE [(col, ...)] — bare-column LOCF form; the
            # expression form (col AS expr, a per-row recurrence) and
            # keyed/serieswise fills are events_gap_interpolate
            j2 = _next_code(toks, j + 1)
            if j2 < len(toks) and toks[j2] == "(":
                close = _match_close(toks, j2)
                inner = [
                    t for t in toks[j2 + 1 : close] if not _is_skippable(t)
                ]
                if any(t not in (",",) and not _is_ident(t) for t in inner):
                    raise DialectError(
                        "WITH FILL INTERPOLATE (col AS expr) recurrences "
                        "are not supported; use events_gap_interpolate"
                    )
                interp = [t for t in inner if t != ","]
                i = close + 1
            else:
                interp = ["*"]  # all non-key columns
                i = j + 1
            continue
        if u == "LIMIT":
            tail = "".join(toks[j:]).strip()
            break
        if u not in ("FROM", "TO", "STEP"):
            raise DialectError(f"WITH FILL: unexpected token {toks[j]}")
        k = _next_code(toks, j + 1)
        e = next(
            (e for e in _top_level(toks, k) if toks[e].upper() in _FILL_STOP),
            len(toks),
        )
        expr = "".join(toks[k:e]).strip()
        if not expr:
            raise DialectError(f"WITH FILL {u}: missing expression")
        spans[u] = expr
        i = e
    core = "".join(toks[:ord_i]).strip()
    if fill_expr is not None:
        e, auto = fill_expr
        core = (
            f"SELECT *, {e} AS `{auto}` FROM ({core}) __fill_expr_src"
        )
    step = spans.get("STEP", "1")
    if x_desc and not step.lstrip().startswith("-"):
        step = f"-({step})"  # descending fill walks the spine down
    # spine endpoint defaults: ascending runs min→max, descending
    # max→min; with leading keys the defaults are PER GROUP (min/max
    # computed in one grouped aggregate — no global spine, so the
    # rewrite stays keyed and scale-shaped like events_gap_fill)
    if lead:
        gsel = ", ".join(k for k, _ in lead)
        lo, hi = "__fill_mn", "__fill_mx"
    else:
        lo = f"(SELECT min({x}) FROM ({core}))"
        hi = f"(SELECT max({x}) FROM ({core}))"
    from_e = spans.get("FROM") or (hi if x_desc else lo)
    if "TO" in spans:
        # TO is exclusive (ClickHouse semantics); sequence() is
        # inclusive, so generate through TO and filter short of it —
        # step-size- and type-agnostic (integers, dates/timestamps
        # with STEP INTERVAL all take the same shape).  For DESC the
        # walk is downward, so exclusive means strictly above TO.
        to = spans["TO"]
        cmp_op = ">" if x_desc else "<"
        spine = (
            f"filter(sequence({from_e}, {to}, {step}), "
            f"__fill_x -> __fill_x {cmp_op} ({to}))"
        )
    else:
        to_e = lo if x_desc else hi
        spine = f"sequence({from_e}, {to_e}, {step})"
    if lead:
        grp = (
            f"SELECT {gsel}, min({x}) AS __fill_mn, "
            f"max({x}) AS __fill_mx FROM ({core}) GROUP BY {gsel}"
        )
        joined = (
            f"(SELECT {gsel}, explode({spine}) AS {x} "
            f"FROM ({grp}) __fill_g) __fill_spine "
            f"LEFT JOIN ({core}) __fill_base USING ({gsel}, {x})"
        )
    else:
        joined = (
            f"(SELECT explode({spine}) AS {x}) __fill_spine "
            f"LEFT JOIN ({core}) __fill_base USING ({x})"
        )
    if interp:
        # LOCF carry over the spined axis.  The ORDER BY x window is
        # deliberately un-keyed: a WITH FILL result is spine-bounded
        # (presentation scale) — serieswise/keyed interpolation at
        # data scale is events_gap_interpolate.  Divergence: original
        # rows whose column is genuinely NULL also carry (ClickHouse
        # interpolates gap rows only) — the module's NULL-policy note.
        cols = (
            resolve_columns(f"({core})") if resolve_columns else None
        )
        if not cols or x not in cols:
            raise DialectError(
                "WITH FILL INTERPOLATE needs the catalog resolver to "
                "list the query's columns (run through "
                "run_clickhouse_sql), or use events_gap_interpolate"
            )
        lead_names = [k for k, _ in lead]
        others = [c for c in cols if c != x and c not in lead_names]
        if interp == ["*"]:
            interp = others
        if any(c not in others for c in interp):
            raise DialectError(
                f"INTERPOLATE names columns not in the query: "
                f"{[c for c in interp if c not in others]}"
            )
        part = (
            f"PARTITION BY {', '.join(lead_names)} " if lead_names else ""
        )
        xord = f"{x} DESC" if x_desc else x
        carry = (
            f"last_value({{c}}, true) OVER ({part}ORDER BY {xord} "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS {c}"
        )
        proj = ", ".join(
            lead_names
            + [x]
            + [carry.format(c=c) if c in interp else c for c in others]
        )
        order = ", ".join(lead_names + [xord])
        repl = (
            f"SELECT {proj} FROM (SELECT * FROM {joined}) __fill_j "
            f"ORDER BY {order}"
        )
    else:
        order = ", ".join(
            [k for k, _ in lead] + [f"{x} DESC" if x_desc else x]
        )
        repl = f"SELECT * FROM {joined} ORDER BY {order}"
    if tail:
        repl += f" {tail}"
    return _tokens(repl)


#: ASOF inequality direction → (window ts ordering, tie preference).
#: "ge" is `l.ts >= r.ts` (ClickHouse default): latest right at-or-
#: before, ties match.  Strict forms exclude the equal-ts right row
#: by sorting the left spine row BEFORE it (side ASC on ties).
_ASOF_DIRS = {
    "ge": ("", "DESC"), "gt": ("", "ASC"),
    "le": (" DESC", "DESC"), "lt": (" DESC", "ASC"),
}
_ASOF_OPS = {">=": "ge", ">": "gt", "<=": "le", "<": "lt"}
#: mirrored predicate on the right column + scan order for the
#: LATERAL top-1 fallback
_ASOF_LATERAL = {
    "ge": ("<=", "DESC"), "gt": ("<", "DESC"),
    "le": (">=", "ASC"), "lt": (">", "ASC"),
}


def _left_from_item(toks, splice_start):
    """The text of the single FROM item immediately before a join
    keyword at ``splice_start`` — ``FROM <dotted name | (subquery)>
    [AS] [alias]`` — or None when the left side is a join chain or
    comma list (the union/derived-relation rewrites need a relation
    they can re-scan)."""
    span = _left_from_item_span(toks, splice_start)
    if span is None:
        return None
    return "".join(toks[span[0]: span[1] + 1]).strip()


def _left_from_item_span(toks, splice_start):
    """(rel_start, last_token, rel_core_text, alias) of the single
    FROM item before ``splice_start``, or None — the span-level twin
    of :func:`_left_from_item` for rewrites that REPLACE the left
    item (ANY RIGHT JOIN's left-side collapse)."""
    q = _prev_code(toks, splice_start - 1)
    if q < 0 or not _is_ident(toks[q]):
        return None
    p2 = _prev_code(toks, q - 1)
    rel_start = q
    core_end = q
    alias = toks[q]
    if p2 >= 0 and toks[p2] == ".":
        # dotted name used without alias: walk the chain back
        # (alias = the last dotted component, CH/Spark's default)
        i = p2
        while i >= 0 and toks[i] == ".":
            j = _prev_code(toks, i - 1)
            if j < 0 or not _is_ident(toks[j]):
                return None
            rel_start = j
            i = _prev_code(toks, j - 1)
        before = i
    elif p2 >= 0 and toks[p2] == ")":
        rel_start = _match_open(toks, p2)
        core_end = p2
        before = _prev_code(toks, rel_start - 1)
        if before >= 0 and toks[before].upper() == "AS":
            before = _prev_code(toks, before - 1)
    elif p2 >= 0 and toks[p2].upper() == "AS":
        j = _prev_code(toks, p2 - 1)
        if j >= 0 and toks[j] == ")":
            rel_start = _match_open(toks, j)
            core_end = j
        elif j >= 0 and _is_ident(toks[j]):
            rel_start = j
            core_end = j
            while True:
                k2 = _prev_code(toks, rel_start - 1)
                if k2 >= 0 and toks[k2] == ".":
                    j2 = _prev_code(toks, k2 - 1)
                    if j2 < 0 or not _is_ident(toks[j2]):
                        return None
                    rel_start = j2
                else:
                    break
        else:
            return None
        before = _prev_code(toks, rel_start - 1)
    elif p2 >= 0 and _is_ident(toks[p2]) and toks[p2].upper() not in (
        "FROM", "JOIN", "WHERE", "ON", "AND", "SELECT",
    ):
        # table name + alias (possibly dotted table)
        rel_start = p2
        core_end = p2
        while True:
            k2 = _prev_code(toks, rel_start - 1)
            if k2 >= 0 and toks[k2] == ".":
                j2 = _prev_code(toks, k2 - 1)
                if j2 < 0 or not _is_ident(toks[j2]):
                    return None
                rel_start = j2
            else:
                break
        before = _prev_code(toks, rel_start - 1)
    else:
        before = p2
    if before < 0 or toks[before].upper() != "FROM":
        return None
    core = "".join(toks[rel_start: core_end + 1]).strip()
    return rel_start, q, core, alias


def _asof_union_window(
    toks, splice_start, strict, l_alias, right_ref, r_alias, key_pairs,
    uclose, resolve_columns, direction="ge",
):
    """The scale-shaped ASOF rewrite (events_asof_join's plan): tag
    right rows side=1 and the left's DISTINCT key pairs side=0, union,
    carry each right value column forward with ``last_value(...,
    true)`` over (eq keys, ORDER BY ts, side DESC — a tie on ts picks
    the right row, ClickHouse's ``>=`` strictness), keep the side=0
    rows, and equi-join back with USING.  One window shuffle on the
    equality keys + the join-back — linear, no per-row candidate
    scan.  Returns the replacement string, or None when the left
    relation isn't a simple FROM item or the right columns can't be
    resolved (caller falls back to the LATERAL form)."""
    left_rel = _left_from_item(toks, splice_start)
    if left_rel is None:
        return None  # left side is a join chain / comma list
    rcols = resolve_columns(right_ref)
    if not rcols:
        return None
    if any(rk not in rcols for _, rk in key_pairs):
        return None
    rkeys = {rk for _, rk in key_pairs}
    vals = [c for c in rcols if c not in rkeys]
    if any(lk in vals for lk, _ in key_pairs):
        return None  # right value column shadows a canonical key name
    # left-side names are canonical throughout the union/window/
    # join-back (the ON form may pair differently-named columns)
    lnames = [lk for lk, _ in key_pairs]
    kcsv = ", ".join(lnames)
    r_keys_sel = ", ".join(
        lk if lk == rk else f"{rk} AS {lk}" for lk, rk in key_pairs
    )
    eq = lnames[:-1]
    ts = lnames[-1]
    ts_dir, side_dir = _ASOF_DIRS[direction]
    win = (
        f"OVER (PARTITION BY {', '.join(eq)} ORDER BY {ts}{ts_dir}, "
        f"__asof_side {side_dir} ROWS BETWEEN UNBOUNDED PRECEDING AND "
        "CURRENT ROW)"
    )
    # Carry the matched right row ATOMICALLY: one last_value over a
    # side-tagged struct of all value columns (NULL struct on side=0
    # spine rows, so IGNORE NULLS skips them).  Per-column carries
    # would backfill a NULL value column from an OLDER right row,
    # fabricating a row ClickHouse never returns — ASOF yields the
    # single matched row including its NULLs.
    ns = ", ".join(f"'{c}', {c}" for c in vals)
    row_struct = f"CASE WHEN __asof_side = 1 THEN named_struct({ns}) END"
    matched = f"last_value(CASE WHEN __asof_side = 1 THEN 1 END, true) {win}"
    nulls = ", ".join(f"NULL AS {c}" for c in vals)
    keep = "__asof_side = 0"
    inner_cols = f"{kcsv}, __asof_side"
    if vals:
        inner_cols += f", last_value({row_struct}, true) {win} AS __asof_r"
    if strict != "LEFT":
        inner_cols += f", {matched} AS __asof_matched"
        keep += " AND __asof_matched = 1"
    jkind = "LEFT JOIN" if strict == "LEFT" else "JOIN"
    sel_vals = f", {', '.join(vals)}" if vals else ""
    proj_vals = f", {', '.join(f'__asof_r.{c} AS {c}' for c in vals)}" if vals else ""
    nulls_part = f", {nulls}" if vals else ""
    r1 = (
        f"SELECT {r_keys_sel}, 1 AS __asof_side{sel_vals} "
        f"FROM {right_ref} {r_alias}"
    )
    l0 = f"SELECT DISTINCT {kcsv}, 0 AS __asof_side{nulls_part} FROM {left_rel}"
    return (
        f" {jkind} (SELECT {kcsv}{proj_vals} FROM "
        f"(SELECT {inner_cols} FROM "
        f"({r1} UNION ALL {l0}) __asof_u) __asof_w WHERE {keep}) "
        f"{r_alias} USING ({kcsv})"
    )


def _rewrite_asof(toks: list[str], resolve_columns=None) -> list[str]:
    """``<left> ASOF [LEFT] JOIN <right> [alias] USING (k…, ts)`` —
    for each left row, the right row with the greatest ``ts <=``
    left's (ClickHouse's default ``>=`` strictness), equal on the
    leading keys.  LEFT keeps unmatched rows (NULLs); plain ASOF JOIN
    is inner.

    Two emission shapes.  With a column resolver (the
    ``run_clickhouse_sql`` front door provides one backed by the
    session catalog) and a simple left FROM item, it emits the
    union + last_value-window plan (see :func:`_asof_union_window`) —
    the 100 TB shape, one keyed window shuffle.  Otherwise it falls
    back to a correlated LATERAL top-1 subquery whose USING columns
    are dropped via ``SELECT * EXCEPT`` — correct, but Catalyst's
    decorrelation builds a ts-domain nested-loop join (quadratic in
    the worst case), so the front door always prefers the resolver
    path; ``events_asof_join`` is the standalone operator.  The ON
    form refuses with that pointer."""
    while True:
        found = None
        for i, t in enumerate(toks):
            if t.upper() == "ASOF":
                found = i
                break
        if found is None:
            return toks
        i = found
        splice_start = i
        strict = "INNER"
        # LEFT ASOF JOIN spelling
        p = i - 1
        while p >= 0 and _is_skippable(toks[p]):
            p -= 1
        if p >= 0 and toks[p].upper() == "LEFT":
            strict = "LEFT"
            splice_start = p
        j = _next_code(toks, i + 1)
        if j < len(toks) and toks[j].upper() in ("LEFT", "INNER"):
            if toks[j].upper() == "LEFT":
                strict = "LEFT"
            j = _next_code(toks, j + 1)
        if j >= len(toks) or toks[j].upper() != "JOIN":
            raise DialectError("ASOF: expected JOIN")
        # left-side qualifier: the table name or alias just before
        q = splice_start - 1
        while q >= 0 and _is_skippable(toks[q]):
            q -= 1
        if q < 0 or not _is_ident(toks[q]):
            raise DialectError(
                "ASOF JOIN needs a named/aliased left table to "
                "correlate on; alias the left side"
            )
        l_alias = toks[q]
        # right side: dotted table name or (subquery), optional alias
        r = _next_code(toks, j + 1)
        if r >= len(toks):
            raise DialectError("ASOF JOIN: missing right side")
        if toks[r] == "(":
            close = _match_close(toks, r)
            right_ref = "".join(toks[r : close + 1])
            r2 = _next_code(toks, close + 1)
            inner_from = right_ref  # subquery needs its alias below
            need_alias = True
        else:
            if not _is_ident(toks[r]):
                raise DialectError("ASOF JOIN: malformed right side")
            name_end = r
            k = _next_code(toks, r + 1)
            while (
                k < len(toks)
                and toks[k] == "."
                and (n2 := _next_code(toks, k + 1)) < len(toks)
                and _is_ident(toks[n2])
            ):
                name_end = n2
                k = _next_code(toks, n2 + 1)
            right_ref = "".join(toks[r : name_end + 1])
            inner_from = right_ref
            need_alias = False
            r2 = _next_code(toks, name_end + 1)
        r_alias = None
        if r2 < len(toks) and toks[r2].upper() == "AS":
            r2 = _next_code(toks, r2 + 1)
        if (
            r2 < len(toks)
            and _is_ident(toks[r2])
            and toks[r2].upper() not in ("USING", "ON")
        ):
            r_alias = toks[r2]
            r2 = _next_code(toks, r2 + 1)
        if r2 >= len(toks) or toks[r2].upper() not in ("USING", "ON"):
            raise DialectError(
                "ASOF JOIN: expected USING (keys..., ts) or ON "
                "<equality conjuncts AND one inequality>"
            )
        if r_alias is None:
            if need_alias:
                raise DialectError("ASOF JOIN: subquery right side needs an alias")
            r_alias = right_ref.split(".")[-1].strip("`")
        if toks[r2].upper() == "USING":
            u = _next_code(toks, r2 + 1)
            if u < len(toks) and toks[u] == "(":
                uclose = _match_close(toks, u)
                keys = [
                    t for t in toks[u + 1 : uclose] if _is_ident(t)
                ]
            elif u < len(toks) and _is_ident(toks[u]):
                # paren-less CH form: USING k1, …, ts
                keys, uclose, p = [toks[u]], u, u
                while True:
                    q1 = _next_code(toks, p + 1)
                    if q1 >= len(toks) or toks[q1] != ",":
                        break
                    q2 = _next_code(toks, q1 + 1)
                    if q2 >= len(toks) or not _is_ident(toks[q2]):
                        break
                    keys.append(toks[q2])
                    uclose = q2
                    p = q2
            else:
                raise DialectError(
                    "ASOF JOIN USING: expected (columns) or a "
                    "comma-separated column list"
                )
            if len(keys) < 2:
                raise DialectError(
                    "ASOF JOIN USING needs at least one equality key plus "
                    "the trailing inequality column"
                )
            key_pairs = [(k, k) for k in keys]
            direction = "ge"  # ClickHouse USING default: l.ts >= r.ts
        else:
            key_pairs, direction, uclose = _parse_asof_on(
                toks, r2, l_alias, r_alias
            )
        lts, rts = key_pairs[-1]
        repl = None
        if resolve_columns is not None:
            repl = _asof_union_window(
                toks, splice_start, strict, l_alias, inner_from,
                r_alias, key_pairs, uclose, resolve_columns, direction,
            )
        if repl is None:
            conds = " AND ".join(
                f"{r_alias}.{rk} = {l_alias}.{lk}"
                for lk, rk in key_pairs[:-1]
            )
            rop, rord = _ASOF_LATERAL[direction]
            jkind = "LEFT JOIN" if strict == "LEFT" else "JOIN"
            rkeys_csv = ", ".join(
                dict.fromkeys(rk for _, rk in key_pairs)
            )
            repl = (
                f" {jkind} LATERAL (SELECT * EXCEPT ({rkeys_csv}) "
                f"FROM {inner_from} {r_alias} WHERE {conds} AND "
                f"{r_alias}.{rts} {rop} {l_alias}.{lts} "
                f"ORDER BY {r_alias}.{rts} {rord} LIMIT 1) {r_alias} ON true"
            )
        toks[splice_start : uclose + 1] = [repl]
        toks = _tokens("".join(toks))


def _parse_asof_on(toks, on_i, l_alias, r_alias):
    """Parse ``ON a.x = b.x AND ... AND a.ts >= b.ts`` into
    (key_pairs, direction, last_token_index).  Each conjunct must be
    ``<alias>.<col> <op> <alias>.<col>`` with one side qualified by
    the right alias — ClickHouse ASOF ON requires >=1 equality and
    EXACTLY one inequality (which defines the match direction)."""
    i, end = _any_on_span(toks, on_i)
    conjuncts = _and_split([t for t in toks[i:end] if not _is_skippable(t)])
    eq_pairs: list[tuple[str, str]] = []
    ineq: tuple[str, str, str] | None = None
    for c in conjuncts:
        # the tokenizer splits '>=' into '>' '=': merge adjacent
        # comparison-operator characters back into one token
        merged: list[str] = []
        for t in c:
            if merged and merged[-1] in (">", "<") and t == "=":
                merged[-1] += t
            else:
                merged.append(t)
        c = merged
        if (
            len(c) != 7
            or c[1] != "." or c[5] != "."
            or not all(_is_ident(c[k]) for k in (0, 2, 4, 6))
            or c[3] not in ("=", ">=", "<=", ">", "<")
        ):
            raise DialectError(
                "ASOF JOIN ON: each conjunct must be "
                "<alias>.<col> <op> <alias>.<col> (op in =, >=, <=, >, <)"
            )
        a_q, a_c, op, b_q, b_c = c[0], c[2], c[3], c[4], c[6]
        if a_q == r_alias and b_q != r_alias:
            # normalize to left-first: flip the operator
            a_q, a_c, b_q, b_c = b_q, b_c, a_q, a_c
            op = {"=": "=", ">=": "<=", "<=": ">=", ">": "<", "<": ">"}[op]
        if b_q != r_alias or a_q == r_alias:
            raise DialectError(
                "ASOF JOIN ON: each conjunct must compare a left-side "
                f"column with a {r_alias!r}-qualified column"
            )
        if op == "=":
            eq_pairs.append((a_c, b_c))
        elif ineq is not None:
            raise DialectError(
                "ASOF JOIN ON allows exactly one inequality conjunct"
            )
        else:
            ineq = (a_c, b_c, _ASOF_OPS[op])
    if not eq_pairs or ineq is None:
        raise DialectError(
            "ASOF JOIN ON needs at least one equality conjunct and "
            "exactly one inequality conjunct"
        )
    # splice end: last non-skippable token of the ON clause (keeping
    # the whitespace before the next keyword out of the splice)
    last = _prev_code(toks, end - 1)
    return eq_pairs + [(ineq[0], ineq[1])], ineq[2], last


def _rewrite_any_join(toks: list[str], resolve_columns=None) -> list[str]:
    """``<left> ANY [LEFT] JOIN <right> [alias] USING (k…)`` — each
    left row matches at most ONE right row.  With a column resolver,
    the right side collapses to one row per key BEFORE the join via a
    keyed ``min(struct(vals))`` aggregate (the ``any_left_join``
    operator's plan: right-side-only shuffle, unique build side, no
    fan-out — at 100 TB the join output is exactly |left| rows).
    ClickHouse picks an arbitrary matching row; the collapse picks the
    lexicographic minimum — a deterministic refinement, documented.
    The ON form and resolver-less calls fall through to the refusal
    with the operator pointer."""
    if resolve_columns is None:
        return toks
    while True:
        found = None
        for i, t in enumerate(toks):
            if t.upper() != "ANY":
                continue
            j = _next_code(toks, i + 1)
            u1 = toks[j].upper() if j < len(toks) else ""
            if u1 in ("LEFT", "INNER", "RIGHT"):
                j2 = _next_code(toks, j + 1)
                if j2 < len(toks) and toks[j2].upper() == "JOIN":
                    found = (i, j2, u1)
                    break
            elif u1 == "JOIN":
                strict = "INNER"
                p = _prev_code(toks, i - 1)
                if p >= 0 and toks[p].upper() in (
                    "LEFT", "INNER", "RIGHT",
                ):
                    strict = toks[p].upper()
                    found = (p, j, strict)
                else:
                    found = (i, j, strict)
                break
        if found is None:
            return toks
        splice_start, join_i, strict = found
        # right side: dotted table name or (subquery), optional alias
        r = _next_code(toks, join_i + 1)
        if r < len(toks) and toks[r] == "(":
            close = _match_close(toks, r)
            right_ref = "".join(toks[r : close + 1])
            r2 = _next_code(toks, close + 1)
            need_alias = True
        elif r < len(toks) and _is_ident(toks[r]):
            name_end = r
            k = _next_code(toks, r + 1)
            while (
                k < len(toks)
                and toks[k] == "."
                and (n2 := _next_code(toks, k + 1)) < len(toks)
                and _is_ident(toks[n2])
            ):
                name_end = n2
                k = _next_code(toks, n2 + 1)
            right_ref = "".join(toks[r : name_end + 1])
            need_alias = False
            r2 = _next_code(toks, name_end + 1)
        else:
            return toks  # malformed — let the backstop refuse
        r_alias = None
        if r2 < len(toks) and toks[r2].upper() == "AS":
            r2 = _next_code(toks, r2 + 1)
        if (
            r2 < len(toks)
            and _is_ident(toks[r2])
            and toks[r2].upper() not in ("USING", "ON")
        ):
            r_alias = toks[r2]
            r2 = _next_code(toks, r2 + 1)
        if r2 >= len(toks) or toks[r2].upper() not in ("USING", "ON"):
            return toks  # malformed — let the backstop refuse
        if r_alias is None:
            if need_alias:
                return toks
            r_alias = right_ref.split(".")[-1].strip("`")
        if strict == "RIGHT":
            # ANY RIGHT JOIN (r12): each RIGHT row keeps at most one
            # left row — the mirror of the LEFT form, so the LEFT
            # side collapses to one row per key before the join
            # (left-side-only shuffle, output exactly |right| rows
            # for the RIGHT-outer form).  Same deterministic
            # min-struct refinement of CH's arbitrary pick.
            toks2 = _any_right_collapse(
                toks, splice_start, join_i, r2, resolve_columns,
            )
            if toks2 is None:
                return toks  # backstop refusal names the operators
            toks = toks2
            continue
        if toks[r2].upper() == "ON":
            # ON form: all conjuncts must be equalities with exactly
            # one side right-qualified; the right side collapses to
            # one row per its referenced key columns and the ON
            # clause itself stays verbatim (no fan-out possible:
            # build side is unique on every joined column)
            keys = _parse_any_on_keys(toks, r2, r_alias)
            if keys is None:
                # non-all-equality conjuncts: the derived-relation /
                # running-min / LATERAL forms (r12, no-equi r13)
                lat = _any_ineq_rewrite(
                    toks, splice_start, strict, right_ref, r_alias,
                    r2, resolve_columns,
                )
                if lat is None:
                    return toks  # no resolver / malformed ON →
                    # backstop refusal
                start, end, text = lat
                toks[start:end] = [text]
                toks = _tokens("".join(toks))
                continue
            splice_end = r2  # keep ON + conjuncts in place
            using = None
        else:
            parsed = _parse_using_keys(toks, r2)
            if parsed is None:
                return toks
            keys, splice_end = parsed
            using = keys
        rcols = resolve_columns(right_ref)
        if not rcols or any(k not in rcols for k in keys):
            return toks
        vals = [c for c in rcols if c not in keys]
        kcsv = ", ".join(keys)
        if vals:
            picked = ", ".join(f"__any_s.{c} AS {c}" for c in vals)
            collapsed = (
                f"(SELECT {kcsv}, {picked} FROM (SELECT {kcsv}, "
                f"min(struct({', '.join(vals)})) AS __any_s "
                f"FROM {right_ref} GROUP BY {kcsv}) __any_g)"
            )
        else:
            collapsed = f"(SELECT DISTINCT {kcsv} FROM {right_ref})"
        jkind = "LEFT JOIN" if strict == "LEFT" else "JOIN"
        if using is not None:
            repl = f" {jkind} {collapsed} {r_alias} USING ({kcsv})"
            toks[splice_start : splice_end + 1] = [repl]
        else:
            repl = f" {jkind} {collapsed} {r_alias} ON"
            toks[splice_start : splice_end + 1] = [repl]
        toks = _tokens("".join(toks))


def _any_on_span(toks, on_i):
    """(start, end) token indices of an ON clause's conjunct span —
    from the first conjunct token to the next same-depth clause
    keyword / join / closing paren / semicolon."""
    stop = {
        "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "UNION",
        "SETTINGS", "WINDOW", "JOIN", "LEFT", "RIGHT", "INNER",
        "FULL", "CROSS", "ASOF", "ANY", "QUALIFY",
    }
    i = _next_code(toks, on_i + 1)
    end = next(
        (e for e in _top_level(toks, i)
         if toks[e] in (")", "]", ";")
         or (_is_ident(toks[e]) and toks[e].upper() in stop)),
        len(toks),
    )
    return i, end


def _and_split(span: list[str]) -> list[list[str]]:
    """Split a token span on depth-0 AND."""
    parts, s = [], 0
    for k in _top_level(span):
        if span[k].upper() == "AND":
            parts.append(span[s:k])
            s = k + 1
    parts.append(span[s:])
    return parts


def _any_on_conjuncts(toks, i, end):
    """AND-split conjunct token lists of an ON span (code tokens
    only, parens opaque).  Each conjunct is stripped of redundant
    whole-conjunct parens — ``ON (l.x > r.y)`` must classify the
    same as the bare spelling (code-review r13d: the wrapped form
    silently fell to the 40x LATERAL plan)."""
    conjuncts = _and_split([t for t in toks[i:end] if not _is_skippable(t)])
    for n, c in enumerate(conjuncts):
        # whole-conjunct parens only, not e.g. (a) > (b)
        while len(c) >= 2 and c[0] == "(" and _match_close(c, 0) == len(c) - 1:
            c = c[1:-1]
        conjuncts[n] = c
    return conjuncts


def _parse_any_on_keys(toks, on_i, r_alias):
    """The right-side key columns of an all-equality ANY JOIN ON
    clause, or None when any conjunct is not ``<a>.<c> = <b>.<c>``
    with exactly one side ``r_alias``-qualified (the caller then
    tries the inequality LATERAL form, and the backstop refusal
    points at ``any_left_join``)."""
    i, end = _any_on_span(toks, on_i)
    keys: list[str] = []
    for c in _any_on_conjuncts(toks, i, end):
        k = _eq_conjunct_right_key(c, r_alias)
        if k is None:
            return None
        keys.append(k)
    if not keys:
        return None
    return list(dict.fromkeys(keys))


def _parse_using_keys(toks, r2):
    """``USING (k1, k2)`` / paren-less ``USING k1, k2`` starting at
    the USING token ``r2`` → (key list, last consumed token index),
    or None — shared by the ANY LEFT/INNER right-collapse and the
    ANY RIGHT left-collapse (code-review r12b deduplication)."""
    u = _next_code(toks, r2 + 1)
    if u < len(toks) and toks[u] == "(":
        uclose = _match_close(toks, u)
        return (
            [t for t in toks[u + 1: uclose] if _is_ident(t)], uclose,
        )
    if u < len(toks) and _is_ident(toks[u]):
        keys, end, p = [toks[u]], u, u
        while True:
            q1 = _next_code(toks, p + 1)
            if q1 >= len(toks) or toks[q1] != ",":
                break
            q2 = _next_code(toks, q1 + 1)
            if q2 >= len(toks) or not _is_ident(toks[q2]):
                break
            keys.append(toks[q2])
            end = q2
            p = q2
        return keys, end
    return None


def _any_right_collapse(
    toks, splice_start, join_i, r2, resolve_columns,
):
    """The ANY RIGHT JOIN left-side collapse (see the caller): parse
    the USING keys / left-qualified ON keys, replace the left FROM
    item with its keyed ``min(struct(vals))`` collapse, and drop the
    ANY strictness keyword.  Returns the re-tokenized list, or None
    when the shape isn't ownable (join-chain left, no resolver,
    non-equality ON)."""
    if resolve_columns is None:
        return None
    span = _left_from_item_span(toks, splice_start)
    if span is None:
        return None
    rel_start, rel_last, left_core, l_alias = span
    if toks[r2].upper() == "USING":
        parsed = _parse_using_keys(toks, r2)
        if parsed is None:
            return None
        keys = parsed[0]
    else:  # ON: all-equality conjuncts, LEFT-qualified keys
        keys = _parse_any_on_keys(toks, r2, l_alias)
        if keys is None:
            return None
    lcols = resolve_columns(left_core)
    if not lcols or any(k not in lcols for k in keys):
        return None
    vals = [c for c in lcols if c not in keys]
    kcsv = ", ".join(keys)
    if vals:
        picked = ", ".join(f"__any_s.{c} AS {c}" for c in vals)
        collapsed = (
            f"(SELECT {kcsv}, {picked} FROM (SELECT {kcsv}, "
            f"min(struct({', '.join(vals)})) AS __any_s "
            f"FROM {left_core} GROUP BY {kcsv}) __any_g)"
        )
    else:
        collapsed = f"(SELECT DISTINCT {kcsv} FROM {left_core})"
    toks[splice_start: join_i + 1] = [" RIGHT JOIN "]
    toks[rel_start: rel_last + 1] = [f"{collapsed} {l_alias}"]
    return _tokens("".join(toks))


def _eq_conjunct_right_key(c: list[str], r_alias: str):
    """The right-side column of one ``<a>.<c> = <b>.<c>`` conjunct
    with exactly one side ``r_alias``-qualified, else None."""
    if (
        len(c) != 7
        or c[1] != "." or c[5] != "."
        or not all(_is_ident(c[k]) for k in (0, 2, 4, 6))
        or c[3] != "="
    ):
        return None
    a_q, a_c, b_q, b_c = c[0], c[2], c[4], c[6]
    if (a_q == r_alias) == (b_q == r_alias):
        return None  # both or neither right-qualified
    return a_c if a_q == r_alias else b_c


_CMP_SINGLE = {"=", "<", ">"}


def _split_cmp_conjunct(c: list[str]):
    """Split one conjunct's code tokens on its depth-0 comparison
    operator → (lhs tokens, op string, rhs tokens), or None (no
    depth-0 comparison — e.g. an OR group or function predicate)."""
    for n in _top_level(c):
        t = c[n]
        if t in _CMP_SINGLE or t == "!":
            nxt = c[n + 1] if n + 1 < len(c) else ""
            if t == "!" and nxt != "=":
                return None
            if t == "!" or (t == "<" and nxt in ("=", ">")) or (
                t in (">", "<") and nxt == "="
            ):
                return c[:n], t + nxt, c[n + 2:]
            return c[:n], t, c[n + 1:]
    return None


def _refs_alias(ts: list[str], alias: str) -> bool:
    """True when the token list uses ``alias`` as a ``alias.col``
    qualifier."""
    for n, t in enumerate(ts):
        if t == alias and n + 1 < len(ts) and ts[n + 1] == ".":
            return True
    return False


def _any_ineq_rewrite(
    toks, splice_start, strict, right_ref, r_alias, on_i,
    resolve_columns,
):
    """ANY JOIN with a non-equality ON (VERDICT r11 item 3, flips the
    r6 refusal): each left row keeps at most one matching right row,
    and inequality conjuncts make the match left-row-dependent, so
    the all-equality pre-collapse can't apply.  Two emission shapes,
    the ASOF precedent:

    * **Derived-relation form** (the 100 TB shape, preferred): build
      the DISTINCT tuple of every LEFT-side operand the ON clause
      uses, hash-join it to the right side on the equality conjuncts
      (inequalities ride as join conditions — never a nested loop),
      keep the lexicographic-minimum right row per tuple via one
      rank window, and equi-join back on the operand expressions.
      One distinct-agg over the left + two keyed shuffles; the
      join-back is one-row-per-tuple so the ANY contract holds
      structurally.  Needs a simple left FROM item, a resolvable
      right side, and each conjunct shaped ``<left expr> CMP <right
      expr>`` with left references qualified by the left item.

    * **Running-min form** (r13, flips the last VERDICT r12 missing
      item): NO equality conjunct at all, but a single
      order-comparison conjunct ``<left expr> CMP <right expr>``
      (CMP in <, <=, >, >=) — the eligible right set is then a
      prefix of the right side ordered by the comparison value, so
      the pick is a RUNNING min with no theta join anywhere (see
      :func:`_any_noeq_derived`).

    * **Correlated LATERAL top-1 fallback** — correct for any
      conjunct shape, but Catalyst's decorrelation fans the right
      side against the DISTINCT domain of the correlated operands
      with a nested-loop join (measured 86 s vs 2 s on the gated
      query at sf0.01), so it only serves shapes the derived forms
      can't own.  For a no-equality multi-conjunct ON this
      DISTINCT-domain nested loop is the information-theoretic
      floor — a keyless theta top-1 has no hash key by
      construction (ClickHouse itself needs the experimental
      full-sorting join for the same shape).

    ClickHouse picks an arbitrary matching row; all forms pick the
    lexicographic minimum over all right columns — the documented
    deterministic refinement (the all-equality collapse's contract).
    Returns (start, end, replacement) token splice or None."""
    if resolve_columns is None:
        return None
    i, end = _any_on_span(toks, on_i)
    conjuncts = _any_on_conjuncts(toks, i, end)
    if any(not c for c in conjuncts):
        return None  # empty ON span / dangling AND → backstop
        # refusal, not unparseable spliced SQL (code-review r13d)
    n_eq = sum(
        1 for c in conjuncts
        if _eq_conjunct_right_key(c, r_alias) is not None
    )
    if n_eq == len(conjuncts):
        return None  # all-equality handled elsewhere
    rcols = resolve_columns(right_ref)
    if not rcols:
        return None
    # a star projection over the join would expose the derived
    # form's __any_lk* helper columns (code-review r12a) — the
    # LATERAL form's output is exactly the right table's columns, so
    # it serves SELECT * / r.* shapes instead.  Scan the select list
    # of the SELECT that OWNS this join (the last depth-0 SELECT
    # before the join, not the segment start — a UNION's first
    # branch must not mask the second's star; code-review r12b), and
    # only count a '*' that follows SELECT / ',' / '.' — after an
    # identifier or ')' it is multiplication, which must not demote
    # the plan to the LATERAL fallback.
    seg = _owning_select_segment(toks, splice_start)
    sel_i = seg[0]
    for n in _top_level(toks, seg[0], min(splice_start, seg[1])):
        if toks[n].upper() == "SELECT":
            sel_i = n
    star = False
    for n in _top_level(toks, sel_i, seg[1]):
        t = toks[n]
        if t.upper() == "FROM":
            break
        if t == "*":
            # depth 0 only: a star inside a parenthesized scalar
            # subquery can't leak the derived form's helper columns
            # (code-review r12c)
            p = _prev_code(toks, n - 1)
            prev = toks[p] if p >= 0 else ""
            if prev == "." or prev == "," or (
                _is_ident(prev) and prev.upper() in ("SELECT", "ALL",
                                                     "DISTINCT")
            ):
                star = True
                break
    repl = None
    if not star:
        if n_eq > 0:
            repl = _any_ineq_derived(
                toks, splice_start, strict, right_ref, r_alias,
                conjuncts, rcols,
            )
        else:
            repl = _any_noeq_derived(
                toks, splice_start, strict, right_ref, r_alias,
                conjuncts, rcols,
            )
    if repl is None:
        repl = _any_ineq_lateral(
            toks, i, end, strict, right_ref, r_alias, rcols,
        )
    if repl is None:
        return None
    return splice_start, end, repl


def _any_ineq_derived(
    toks, splice_start, strict, right_ref, r_alias, conjuncts, rcols,
):
    """The derived-relation scale form (see
    :func:`_any_ineq_rewrite`), or None when a conjunct/left shape
    disqualifies it."""
    left_rel = _left_from_item(toks, splice_start)
    if left_rel is None:
        return None
    l_alias_i = _prev_code(toks, splice_start - 1)
    l_alias = toks[l_alias_i] if l_alias_i >= 0 else ""
    if any(c.startswith("__any_") for c in rcols):
        return None
    lexprs: list[str] = []
    slot: dict[str, int] = {}
    conds: list[str] = []
    for c in conjuncts:
        sides = _any_cmp_sides(c, r_alias, l_alias)
        if sides is None:
            return None
        lhs, op, rhs, l_on_left = sides
        ltext = " ".join(lhs)
        rtext = " ".join(
            "__any_r" if (
                t == r_alias and n + 1 < len(rhs) and rhs[n + 1] == "."
            ) else t
            for n, t in enumerate(rhs)
        )
        key = _norm_expr(ltext)
        if key not in slot:
            slot[key] = len(lexprs)
            lexprs.append(ltext)
        lk = f"__any_lk{slot[key]}"
        conds.append(
            f"{lk} {op} {rtext}" if l_on_left else f"{rtext} {op} {lk}"
        )
    dcols = ", ".join(
        f"{e} AS __any_lk{n}" for n, e in enumerate(lexprs)
    )
    lkcsv = ", ".join(f"__any_lk{n}" for n in range(len(lexprs)))
    rsel = ", ".join(f"__any_r.{c} AS {c}" for c in rcols)
    rord = ", ".join(f"__any_r.{c}" for c in rcols)
    derived = (
        f"(SELECT * EXCEPT (__any_rn) FROM ("
        f"SELECT {lkcsv}, {rsel}, row_number() OVER ("
        f"PARTITION BY {lkcsv} ORDER BY {rord}) AS __any_rn "
        f"FROM (SELECT DISTINCT {dcols} FROM {left_rel}) __any_d "
        f"JOIN {right_ref} __any_r ON {' AND '.join(conds)}"
        f") __any_t WHERE __any_rn = 1)"
    )
    jkind = "LEFT JOIN" if strict == "LEFT" else "JOIN"
    back = " AND ".join(
        f"{r_alias}.__any_lk{n} = {e}" for n, e in enumerate(lexprs)
    )
    return f" {jkind} {derived} {r_alias} ON {back} "


_NOEQ_FLIP = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}

# boolean/predicate keywords that mean _split_cmp_conjunct cut an
# un-parenthesized compound (e.g. `a < b OR c = d` splits at the
# first `<` leaving `b OR c = d` as the rhs) — such conjuncts must
# fall to the verbatim LATERAL form, never the operand-splicing
# derived forms.  CASE/WHEN guard the un-parenthesized CASE arm the
# same way; depth-0 only keywords would miss them.
_CMP_OPAQUE = {
    "OR", "AND", "NOT", "BETWEEN", "IN", "LIKE", "ILIKE", "IS",
    "CASE", "WHEN",
}


def _cmp_sides_clean(*sides) -> bool:
    """True when no comparison-operand token list contains a
    boolean/predicate keyword anywhere (see ``_CMP_OPAQUE``)."""
    return not any(
        _is_ident(t) and t.upper() in _CMP_OPAQUE
        for side in sides for t in side
    )


def _any_cmp_sides(c, r_alias, l_alias):
    """Normalise one ANY-JOIN ON conjunct to ``(lhs tokens, op, rhs
    tokens, l_on_left)``: the left-item operand in lhs, the
    right-side operand in rhs.  None (→ LATERAL fallback) when the
    conjunct has no depth-0 comparison, is an un-parenthesized
    compound (:func:`_cmp_sides_clean`), has both/neither side
    right-qualified, or either operand references a table it cannot
    resolve against — every lhs qualifier must be the left item's
    alias and every rhs qualifier the right alias (code-review r13d:
    a left/third-table reference inside the right operand would be
    spliced into the right-only derived subquery where it is out of
    scope).  Shared by the derived-relation and running-min forms so
    the classification cannot diverge (code-review r13d)."""
    parts = _split_cmp_conjunct(c)
    if parts is None:
        return None
    lhs, op, rhs = parts
    if not _cmp_sides_clean(lhs, rhs):
        return None  # compound conjunct: LATERAL keeps it verbatim
    l_on_left = True
    if _refs_alias(lhs, r_alias) and not _refs_alias(rhs, r_alias):
        lhs, rhs = rhs, lhs  # right operand was spelled first
        l_on_left = False
    elif not (
        _refs_alias(rhs, r_alias) and not _refs_alias(lhs, r_alias)
    ):
        return None  # both/neither sides right-qualified
    if not lhs or not rhs:
        return None
    for n, t in enumerate(lhs):
        if (
            _is_ident(t) and n + 1 < len(lhs) and lhs[n + 1] == "."
            and t != l_alias
        ):
            return None  # three-way reference: lateral fallback
    for n, t in enumerate(rhs):
        if (
            _is_ident(t) and n + 1 < len(rhs) and rhs[n + 1] == "."
            and t != r_alias
        ):
            return None  # left/third-table ref in the right operand
    return lhs, op, rhs, l_on_left


def _any_noeq_derived(
    toks, splice_start, strict, right_ref, r_alias, conjuncts, rcols,
):
    """Pure-inequality ANY JOIN — NO equality conjunct (the final
    VERDICT r12 missing item; ClickHouse gates the same shape behind
    its experimental full-sorting join).  A single order-comparison
    conjunct ``<left expr> CMP <right expr>`` (CMP in <, <=, >, >=)
    makes the eligible right set a prefix of the right side ordered
    by the comparison value, so the lexicographic-minimum pick is a
    RUNNING min over that ordering — no theta join anywhere:

    1. group the right side by the comparison value → per-value
       ``min(struct(cols))`` (map-side partial, one keyed shuffle,
       O(distinct values) rows out — the quantileExactWeighted
       value-compression class, VERDICT r12);
    2. UNION ALL the DISTINCT left operand values as probe rows
       (payload NULL — Spark widens NullType to the build struct)
       and take the running ``min(struct)`` over ``(value, tag)``
       order: for strict comparisons probes sort BEFORE same-value
       build rows (tag 0 vs 1) so equal values stay outside the
       frame; non-strict reverses the tags; < and <= flip the sort
       direction.  The running min is RANGE-PARTITIONED (VERDICT
       r13 — a global window was one task at high comparison-value
       cardinality): value-bucket the union via
       :func:`_range_bucket_sql`, per-bucket exclusive-frame
       ``min(struct) OVER (PARTITION BY bucket ...)`` in parallel,
       then fold in the ≤64-row cross-bucket prefix mins (walked in
       sort direction) with a null-skipping CASE min through a
       broadcast join — the PASTE JOIN two-pass rank scheme;
    3. keep probe rows with a non-NULL running min and equi-join
       back on the operand expression.  The probe side is unique
       per value → no fan-out; ANY LEFT keeps unmatched left rows
       through the outer join, ANY INNER drops them.

    NULL comparison values match nothing in ClickHouse (CMP is
    NULL-propagating), so both legs filter them; a NULL left operand
    then simply finds no probe row via the equi-join back.  Returns
    the replacement join clause, or None when the shape disqualifies
    (multi-conjunct, !=/OR, both-side or three-way references,
    join-chain left item, ``__any_``-prefixed right columns) — the
    LATERAL fallback owns those."""
    if len(conjuncts) != 1:
        return None
    left_rel = _left_from_item(toks, splice_start)
    if left_rel is None:
        return None
    l_alias_i = _prev_code(toks, splice_start - 1)
    l_alias = toks[l_alias_i] if l_alias_i >= 0 else ""
    if any(c.startswith("__any_") for c in rcols):
        return None
    sides = _any_cmp_sides(conjuncts[0], r_alias, l_alias)
    if sides is None:
        return None
    lhs, op, rhs, l_on_left = sides
    if op not in _NOEQ_FLIP:
        return None
    if not l_on_left:
        op = _NOEQ_FLIP[op]  # right operand was spelled first
    ltext = " ".join(lhs)
    rtext = " ".join(
        "__any_r" if (
            t == r_alias and n + 1 < len(rhs) and rhs[n + 1] == "."
        ) else t
        for n, t in enumerate(rhs)
    )
    # orientation after normalising to <left> OP <right>: > / >=
    # walk the right side ascending, < / <= descending; strict
    # comparisons put the probe BEFORE same-value build rows so the
    # 1-PRECEDING frame excludes them.
    vdir = "ASC" if op in (">", ">=") else "DESC"
    ptag, btag = (0, 1) if op in (">", "<") else (1, 0)
    rcsv = ", ".join(rcols)
    unpack = ", ".join(f"__any_b.{c} AS {c}" for c in rcols)
    union_sql = (
        f"SELECT __any_v, {btag} AS __any_t, "
        f"min(struct({rcsv})) AS __any_s "
        f"FROM (SELECT __any_r.*, {rtext} AS __any_v "
        f"FROM {right_ref} __any_r) __any_rr "
        f"WHERE __any_v IS NOT NULL GROUP BY __any_v "
        f"UNION ALL "
        f"SELECT DISTINCT {ltext} AS __any_v, {ptag} AS __any_t, "
        f"NULL AS __any_s FROM {left_rel} "
        f"WHERE ({ltext}) IS NOT NULL"
    )
    # RANGE-PARTITIONED two-pass running min (VERDICT r13: the
    # global ORDER BY window was a SinglePartition exchange over
    # the distinct comparison values — O(rows) for a
    # high-cardinality float operand at scale).  The PASTE JOIN
    # rank scheme (:func:`_range_bucket_sql`): bucket the union by
    # fixed-width value ranges (stats from a broadcast one-row
    # scan of the RIGHT side — probe values outside the range
    # clamp to the edge buckets, bucketing only needs
    # order-consistency), run the exclusive-frame min per bucket
    # in parallel, fold in each bucket's full min through a
    # ≤64-row prefix window walked in sort direction, and combine
    # with null-skipping least().  Ties share a bucket (monotone
    # map), so prior buckets are strictly before the current row
    # and the result equals the global form row-for-row.  The
    # union is spelled twice (rows + bucket totals) — Spark's
    # exchange reuse collapses the duplicate GROUP BY, and the
    # bucket-totals leg reduces to ≤64 rows before its window.
    nb = 64
    bucket, knn = _range_bucket_sql(
        "__any_v", nb, "__any_plo", "__any_pwd",
    )
    stats = (
        f"(SELECT min({knn}) AS __any_plo, "
        f"GREATEST((max({knn}) - min({knn})) / {nb}, 1e-9d) "
        f"AS __any_pwd "
        f"FROM (SELECT {rtext} AS __any_v "
        f"FROM {right_ref} __any_r) __any_sv "
        f"WHERE __any_v IS NOT NULL)"
    )
    bucketed = (
        f"(SELECT *, {bucket} AS __any_pb "
        f"FROM ({union_sql}) __any_u CROSS JOIN {stats} __any_st)"
    )
    premins = (
        f"(SELECT __any_pb AS __any_pb2, min(__any_bm) OVER "
        f"(ORDER BY __any_pb {vdir} "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) "
        f"AS __any_pre "
        f"FROM (SELECT __any_pb, min(__any_s) AS __any_bm "
        f"FROM {bucketed} __any_bt GROUP BY __any_pb) __any_bg)"
    )
    derived = (
        f"(SELECT __any_lk0, {unpack} FROM ("
        f"SELECT __any_v AS __any_lk0, __any_t, "
        # NULL-SKIPPING struct min — spelled as CASE, not least():
        # the spliced text re-enters the transpiler, whose least
        # register keeps ClickHouse's NULL-PROPAGATING semantics
        f"CASE WHEN __any_bw IS NULL THEN __any_pre "
        f"WHEN __any_pre IS NULL THEN __any_bw "
        f"WHEN __any_pre < __any_bw THEN __any_pre "
        f"ELSE __any_bw END AS __any_b FROM ("
        f"SELECT __any_v, __any_t, __any_pb, "
        f"min(__any_s) OVER (PARTITION BY __any_pb "
        f"ORDER BY __any_v {vdir}, __any_t "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) "
        f"AS __any_bw FROM {bucketed} __any_bb) __any_win "
        f"JOIN {premins} __any_pm ON __any_pb = __any_pb2"
        f") __any_w "
        f"WHERE __any_t = {ptag} AND __any_b IS NOT NULL)"
    )
    jkind = "LEFT JOIN" if strict == "LEFT" else "JOIN"
    return f" {jkind} {derived} {r_alias} ON {r_alias}.__any_lk0 = {ltext} "


def _any_ineq_lateral(
    toks, i, end, strict, right_ref, r_alias, rcols,
):
    """The correlated LATERAL top-1 fallback (see
    :func:`_any_ineq_rewrite`)."""
    # rename the right alias's qualifier uses inside the moved ON
    # text (it becomes the lateral's inner table)
    body = list(toks[i:end])
    for n, t in enumerate(body):
        if t == r_alias:
            nx = _next_code(body, n + 1)
            if nx < len(body) and body[nx] == ".":
                body[n] = "__any_c"
    conds = "".join(body).strip()
    ordcsv = ", ".join(f"__any_c.{c}" for c in rcols)
    jkind = "LEFT JOIN" if strict == "LEFT" else "JOIN"
    return (
        f" {jkind} LATERAL (SELECT * FROM {right_ref} __any_c "
        f"WHERE {conds} ORDER BY {ordcsv} LIMIT 1) {r_alias} ON TRUE "
    )


def _rewrite_final(toks, resolve_columns=None, engine_info=None):
    """``FROM t FINAL`` when ``t``'s CREATE TABLE went through
    ``ddl.transpile_ddl`` (so its engine, ORDER BY key, and version
    column are known): ReplacingMergeTree collapses to the max-version
    row per key via a keyed ``max_by(struct(vals), struct(ver, …))``
    aggregate — one right-sized shuffle of the read, the
    ``mergetree_replacing_final`` plan, no window.  Version ties (or
    a version-less engine) break on the remaining columns
    lexicographically — a deterministic refinement of ClickHouse's
    keep-last-inserted.  VersionedCollapsingMergeTree(sign, ver)
    collapses to the +1 row of the highest non-cancelled version
    (two stacked keyed aggregates).  Plain CollapsingMergeTree keeps,
    per key with positive sign sum, the lexicographic-max +1 row — a
    deterministic refinement of ClickHouse's insertion-order pick
    (exact when at most one state row survives per key, the engine's
    intended usage).  Other engines and unknown tables fall through
    to the refusal with the operator pointer."""
    if resolve_columns is None or engine_info is None:
        return toks
    i = 0
    while i < len(toks):
        if toks[i].upper() != "FROM":
            i += 1
            continue
        j = _next_code(toks, i + 1)
        if j >= len(toks) or not (_is_ident(toks[j]) or toks[j].startswith("`")):
            i += 1
            continue
        name_end = j
        k = _next_code(toks, j + 1)
        while (
            k < len(toks)
            and toks[k] == "."
            and (n2 := _next_code(toks, k + 1)) < len(toks)
            and (_is_ident(toks[n2]) or toks[n2].startswith("`"))
        ):
            name_end = n2
            k = _next_code(toks, n2 + 1)
        if k >= len(toks) or toks[k].upper() != "FINAL":
            i += 1
            continue
        name = "".join(toks[j : name_end + 1])
        info = engine_info(name)
        eng = str(info.engine) if info is not None else ""
        if not (
            eng.startswith("Replacing")
            or eng.startswith("VersionedCollapsing")
            or eng.startswith("Collapsing")
            or eng.startswith("Summing")
        ):
            i += 1
            continue  # backstop refusal names the MergeTree operators
        cols = resolve_columns(name)
        keys = list(info.keys)
        if not cols or not keys or any(c not in cols for c in keys):
            i += 1
            continue
        vals = [c for c in cols if c not in keys]
        kcsv = ", ".join(keys)
        alias = name.split(".")[-1].strip("`")
        if eng.startswith("Summing"):
            # SummingMergeTree FINAL: per ORDER BY key, SUM the
            # summable columns (the engine-arg list if given, else
            # every numeric non-key column — types via the resolver's
            # dtypes probe) and keep a deterministic representative
            # (min) for the rest, a refinement of ClickHouse's
            # any-from-first-part.
            dt_fn = getattr(resolve_columns, "dtypes", None)
            dts = dict(dt_fn(name) or []) if dt_fn else {}
            if not dts:
                i += 1
                continue
            numeric = {
                c for c, t in dts.items()
                if t in ("tinyint", "smallint", "int", "bigint",
                         "float", "double")
                or t.startswith("decimal")
            }
            # Summing(col) stores its single arg in the version slot;
            # an unparsed tuple form falls back to all-numeric
            explicit = (
                {info.version}
                if info.version and _IDENT_RE.match(info.version)
                else None
            )
            sum_cols = [
                c for c in vals
                if c in numeric and (explicit is None or c in explicit)
            ]
            if not sum_cols:
                i += 1
                continue
            rest = [c for c in vals if c not in sum_cols]
            sel = ", ".join(
                [kcsv]
                + [f"sum({c}) AS {c}" for c in sum_cols]
                + [f"min({c}) AS {c}" for c in rest]
            )
            collapse = (
                f"(SELECT {sel} FROM {name} GROUP BY {kcsv}) {alias}"
            )
        elif eng.startswith("VersionedCollapsing"):
            # active row per key: the +1 (state) row of the highest
            # version whose (key, version) group is not fully
            # sign-cancelled — two stacked keyed aggregates, the
            # mergetree_versioned_collapsing plan
            sign, ver = info.sign, info.version
            if not sign or not ver or sign not in vals or ver not in vals:
                i += 1
                continue
            svals = [c for c in vals if c != ver]
            ordc = ", ".join([c for c in svals if c != sign] or [sign])
            scsv = ", ".join(svals)
            mask = f"CASE WHEN {sign} = 1 THEN"
            collapse = (
                f"(SELECT {kcsv}, "
                f"{', '.join(f'__f_s.{c} AS {c}' for c in svals)}, "
                f"__f_ver AS {ver} FROM (SELECT {kcsv}, "
                f"max_by(__f_s0, {ver}) AS __f_s, "
                f"max({ver}) AS __f_ver FROM (SELECT {kcsv}, {ver}, "
                f"max_by({mask} struct({scsv}) END, "
                f"{mask} struct({ordc}) END) AS __f_s0, "
                f"sum({sign}) AS __f_net FROM {name} "
                f"GROUP BY {kcsv}, {ver}) __f_g "
                f"WHERE __f_net > 0 AND __f_s0 IS NOT NULL "
                f"GROUP BY {kcsv}) __f_h) {alias}"
            )
        elif eng.startswith("Collapsing"):
            # plain Collapsing: per key, survivors are keys whose sign
            # sum is positive; the kept row is the lexicographic-max
            # +1 (state) row — a deterministic refinement of
            # ClickHouse's keep-last-inserted (parquet relations have
            # no insertion order; exact whenever at most one state
            # row survives per key, the engine's intended usage)
            sign = info.sign
            if not sign or sign not in vals:
                i += 1
                continue
            ordc = ", ".join([c for c in vals if c != sign] or [sign])
            scsv = ", ".join(vals)
            mask = f"CASE WHEN {sign} = 1 THEN"
            collapse = (
                f"(SELECT {kcsv}, "
                f"{', '.join(f'__f_s.{c} AS {c}' for c in vals)} "
                f"FROM (SELECT {kcsv}, "
                f"max_by({mask} struct({scsv}) END, "
                f"{mask} struct({ordc}) END) AS __f_s, "
                f"sum({sign}) AS __f_net FROM {name} "
                f"GROUP BY {kcsv}) __f_g "
                f"WHERE __f_net > 0 AND __f_s IS NOT NULL) {alias}"
            )
        elif vals:
            ordcols = ([info.version] if info.version in vals else []) + [
                c for c in vals if c != info.version
            ]
            picked = ", ".join(f"__f_s.{c} AS {c}" for c in vals)
            # ReplacingMergeTree(ver, is_deleted) soft deletes (CH
            # 23.2+): FINAL drops keys whose SURVIVING (max-version)
            # row carries is_deleted = 1 — the delete marker wins
            # only if it is the latest version, exactly CH's rule
            dele = getattr(info, "is_deleted", None)
            del_filter = (
                f" WHERE __f_s.{dele} != 1"
                if dele and dele in vals
                else ""
            )
            collapse = (
                f"(SELECT {kcsv}, {picked} FROM (SELECT {kcsv}, "
                f"max_by(struct({', '.join(vals)}), "
                f"struct({', '.join(ordcols)})) AS __f_s "
                f"FROM {name} GROUP BY {kcsv}) __f_g{del_filter}) "
                f"{alias}"
            )
        else:
            collapse = f"(SELECT DISTINCT {kcsv} FROM {name}) {alias}"
        toks[j : k + 1] = [collapse]
        toks = _tokens("".join(toks))
        i = 0
    return toks


def _rewrite_with_scalars(toks: list[str]) -> list[str]:
    """ClickHouse's expression-form WITH: ``WITH <expr> AS ident, …
    SELECT`` (including scalar subqueries, ``WITH (SELECT max(x) FROM
    t) AS mx``) — the expr substitutes for every later use of the
    identifier.  Standard ``ident AS (subquery)`` CTE items are left
    for Spark.  Mixed lists keep the CTE items and inline the
    expression items."""
    i = _next_code(toks, 0)
    if i >= len(toks) or toks[i].upper() != "WITH":
        return toks
    # parse top-level comma-separated items until the SELECT
    items: list[tuple[int, int]] = []  # (start, end) token spans
    start = i + 1
    sel = None
    for j in _top_level(toks, start):
        if toks[j] == ",":
            items.append((start, j))
            start = j + 1
        elif toks[j].upper() == "SELECT":
            sel = j
            items.append((start, j))
            break
    if sel is None:
        return toks
    keep: list[str] = []
    subs: dict[str, str] = {}
    for s0, e0 in items:
        body = [t for t in toks[s0:e0] if not _is_skippable(t)]
        if not body:
            return toks  # malformed; pass through
        if (
            len(body) >= 3
            and _is_ident(body[0])
            and body[1].upper() == "AS"
            and body[2] == "("
        ):
            keep.append("".join(toks[s0:e0]).strip())  # standard CTE
            continue
        if (
            len(body) >= 3
            and body[-2].upper() == "AS"
            and _is_ident(body[-1])
        ):
            # strip the trailing "AS ident" from the ORIGINAL span
            # (whitespace preserved) and inline the parenthesized expr
            ident_i = e0 - 1
            while toks[ident_i] != body[-1]:
                ident_i -= 1
            as_i = _prev_code(toks, ident_i - 1)
            expr = "".join(toks[s0:as_i]).strip()
            subs[body[-1]] = f"({expr})"
            continue
        return toks  # unrecognized item shape; pass through
    if not subs:
        return toks
    rest = toks[sel:]
    out: list[str] = []
    for k, t in enumerate(rest):
        prev = _prev_code(rest, k - 1)
        nxt = _next_code(rest, k + 1)
        prev_t = rest[prev] if prev >= 0 else ""
        if (
            t in subs
            and prev_t != "."
            and prev_t.upper() != "AS"  # alias target, not a use
            and (nxt >= len(rest) or rest[nxt] not in (".", "("))
        ):
            out.append(subs[t])
        else:
            out.append(t)
    prefix = f"WITH {', '.join(keep)} " if keep else ""
    return _tokens(prefix + "".join(out))


def _rewrite_bare_having(toks: list[str]) -> list[str]:
    """ClickHouse allows ``HAVING`` without GROUP BY on a
    NON-aggregating select, where it filters the result rows (alias
    references resolve) — Spark raises MISSING_GROUP_BY (r15 batch
    31).  Conservative wrap: only for a FLAT statement (single
    depth-0 SELECT, no set ops), a select list with no call parens
    (so provably no aggregates — aggregate+HAVING is native Spark),
    and a HAVING condition whose identifiers are all output names of
    the head: ``SELECT * FROM (head) __hv WHERE cond [tail]``."""
    sel = from_i = group_i = having_i = None
    n = len(toks)
    for i in _top_level(toks):
        if _is_ident(toks[i]):
            u = toks[i].upper()
            if u == "SELECT":
                if sel is not None:
                    return toks  # set op / multi-select — skip
                sel = i
            elif u in ("UNION", "INTERSECT", "EXCEPT"):
                return toks
            elif u == "FROM" and sel is not None and from_i is None:
                from_i = i
            elif u == "GROUP":
                group_i = i
            elif u == "HAVING" and having_i is None:
                having_i = i
    if (
        sel is None or from_i is None or having_i is None
        or group_i is not None
    ):
        return toks
    if any("(" in t for t in toks[sel + 1:from_i]):
        return toks  # calls in the select list — could aggregate
    # condition span: HAVING .. depth-0 ORDER/LIMIT/SETTINGS/';'/end
    cond_end = next(
        (i for i in _top_level(toks, having_i + 1) if toks[i].upper() in (
            ";", "ORDER", "LIMIT", "SETTINGS", "FORMAT", "OFFSET", "FETCH",
        )),
        n,
    )
    head = "".join(toks[sel:having_i]).strip()
    cond = "".join(toks[having_i + 1:cond_end]).strip()
    names = _select_out_names(head)
    if not cond or names is None:
        return toks
    cond_refs = {
        t for t in _tokens(cond)
        if _is_ident(t) and t.upper() not in (
            "AND", "OR", "NOT", "IS", "NULL", "TRUE", "FALSE", "IN",
            "BETWEEN", "LIKE", "CASE", "WHEN", "THEN", "ELSE", "END",
        )
    }
    if any(r not in names for r in cond_refs):
        return toks  # unselected base columns — leave to Spark
    tail = "".join(toks[cond_end:])
    return _tokens(
        f"SELECT * FROM ({head}) __hv WHERE {cond} {tail}"
    )


#: identifier tokens that may directly precede a TUPLE's open paren
#: (keyword context, not a function call) — the tuple-IN rewrite's
#: call-vs-tuple disambiguation
_TUPLE_CTX_KEYWORDS = frozenset((
    "WHERE", "AND", "OR", "NOT", "ON", "WHEN", "THEN", "ELSE",
    "CASE", "SELECT", "HAVING", "BY", "IN", "IS", "LIKE", "SET",
    "PREWHERE", "RETURN", "ALL", "ANY", "END",
))


def _tuple_in_lhs(toks: list[str], p: int):
    """Shared lhs validation for the tuple-IN rewrite: ``toks[p]``
    is the ')' before [NOT] IN.  Returns the matching open-paren
    index when the group is a genuine TUPLE of >= 2 elements (not a
    function call's argument list, not a row subquery), else
    None."""
    lo = _match_open(toks, p)
    first = _next_code(toks, lo + 1)
    if first < len(toks) and _is_ident(toks[first]) and \
            toks[first].upper() in ("SELECT", "WITH"):
        return None  # row subquery lhs — leave verbatim (r15c)
    if len(_split_top_commas("".join(toks[lo + 1:p]))) < 2:
        return None  # scalar parenthesized expr — native IN
    pb = _prev_code(toks, lo - 1)
    if pb >= 0 and (
        toks[pb] in (")", "]")
        or (
            _is_ident(toks[pb])
            and toks[pb].upper() not in _TUPLE_CTX_KEYWORDS
        )
    ):
        return None  # f(a, b) IN (...) — a call, not a tuple
    return lo


def _tuple_eq(le: str, re_: str) -> str:
    """Element equality for the tuple-IN expansion — RECURSIVE for
    nested tuples (r15c: a raw ``(a, b) = (1, 1)`` reproduces the
    struct field-name mismatch the rewrite exists to fix)."""
    l_ = le.strip()
    r_ = re_.strip()
    if (
        l_.startswith("(") and l_.endswith(")")
        and r_.startswith("(") and r_.endswith(")")
    ):
        lp = [x.strip() for x in _split_top_commas(l_[1:-1])]
        rp = [x.strip() for x in _split_top_commas(r_[1:-1])]
        if len(lp) >= 2 or len(rp) >= 2:
            if len(lp) != len(rp):
                raise DialectError(
                    "tuple IN: nested tuple arities differ "
                    f"({len(lp)} vs {len(rp)})"
                )
            return (
                "("
                + " AND ".join(
                    _tuple_eq(a, b) for a, b in zip(lp, rp)
                )
                + ")"
            )
    return f"({l_}) = ({r_})"


def _rewrite_tuple_in(toks: list[str]) -> list[str]:
    """``(a, b) [NOT] IN ((1, 1), (2, 2))`` → an equality
    disjunction (r15 batch 31): Spark parses both sides as structs
    and rejects the comparison on FIELD-NAME mismatch
    (named_struct('a', a, …) vs col1/col2), so the tuple-literal
    membership form passed through as an AnalysisException.  NOT IN
    wraps the disjunction in NOT(…) to keep three-valued NULL
    semantics.  Subquery RHS/LHS and scalar lhs are untouched
    (Spark handles those natively); nested tuple elements expand
    recursively."""
    changed = True
    while changed:
        changed = False
        # NOT IN first: normalize ') NOT IN (' to 'NOT ((t) IN (…))'
        # so the plain pass below serves both spellings
        for i, t in enumerate(toks):
            if not (_is_ident(t) and t.upper() == "NOT"):
                continue
            nin = _next_code(toks, i + 1)
            if nin >= len(toks) or not (
                _is_ident(toks[nin]) and toks[nin].upper() == "IN"
            ):
                continue
            p = _prev_code(toks, i - 1)
            if p < 0 or toks[p] != ")":
                continue
            lo = _tuple_in_lhs(toks, p)
            if lo is None:
                continue
            rhs_open = _next_code(toks, nin + 1)
            if rhs_open >= len(toks) or toks[rhs_open] != "(":
                continue
            rhs_close = _match_close(toks, rhs_open)
            inner = _next_code(toks, rhs_open + 1)
            if inner < len(toks) and _is_ident(toks[inner]) and \
                    toks[inner].upper() in ("SELECT", "WITH"):
                continue
            toks = (
                toks[:lo]
                + _tokens(" NOT (")
                + toks[lo:i]
                + toks[nin:rhs_close + 1]
                + _tokens(") ")
                + toks[rhs_close + 1:]
            )
            changed = True
            break
        if changed:
            continue
        for i, t in enumerate(toks):
            if not (_is_ident(t) and t.upper() == "IN"):
                continue
            p = _prev_code(toks, i - 1)
            if p < 0 or toks[p] != ")":
                continue
            lo = _tuple_in_lhs(toks, p)
            if lo is None:
                continue
            lhs = [
                x.strip()
                for x in _split_top_commas("".join(toks[lo + 1:p]))
            ]
            rhs_open = _next_code(toks, i + 1)
            if rhs_open >= len(toks) or toks[rhs_open] != "(":
                continue
            rhs_close = _match_close(toks, rhs_open)
            inner = _next_code(toks, rhs_open + 1)
            if inner < len(toks) and _is_ident(toks[inner]) and \
                    toks[inner].upper() in ("SELECT", "WITH"):
                continue  # subquery — native
            elems = [
                x.strip()
                for x in _split_top_commas(
                    "".join(toks[rhs_open + 1:rhs_close])
                )
            ]
            tuples = []
            for el in elems:
                if not (el.startswith("(") and el.endswith(")")):
                    tuples = None
                    break
                parts = [
                    x.strip() for x in _split_top_commas(el[1:-1])
                ]
                if len(parts) != len(lhs):
                    raise DialectError(
                        "tuple IN: every right-hand tuple needs "
                        f"{len(lhs)} elements"
                    )
                tuples.append(parts)
            if not tuples:
                continue
            disj = " OR ".join(
                "("
                + " AND ".join(
                    _tuple_eq(le, re_)
                    for le, re_ in zip(lhs, parts)
                )
                + ")"
                for parts in tuples
            )
            toks[lo:rhs_close + 1] = _tokens(f"({disj})")
            changed = True
            break
    return toks


def _rewrite_offset_fetch(toks: list[str]) -> list[str]:
    """ANSI ``[OFFSET n ROW[S]] FETCH FIRST|NEXT m ROW[S]
    ONLY|WITH TIES`` → the LIMIT spelling Spark parses (r15 batch
    31: the form passed through verbatim as a parse error).  ONLY →
    ``LIMIT m OFFSET n``; WITH TIES → ``LIMIT m WITH TIES`` (the
    existing ties machinery), refused with a nonzero OFFSET (the
    two-pass boundary plan has no offset tier)."""
    out: list[str] = []
    i = 0
    n = len(toks)

    def code(j):
        return _next_code(toks, j)

    while i < n:
        t = toks[i]
        if not (_is_ident(t) and t.upper() in ("OFFSET", "FETCH")):
            out.append(t)
            i += 1
            continue
        # try to match the full ANSI shape starting here
        off = None
        j = i
        if t.upper() == "OFFSET":
            j1 = code(j + 1)
            j2 = code(j1 + 1) if j1 < n else n
            if (
                j1 < n and re.fullmatch(r"\d+", toks[j1])
                and j2 < n and toks[j2].upper() in ("ROW", "ROWS")
            ):
                nxt = code(j2 + 1)
                if nxt < n and toks[nxt].upper() == "FETCH":
                    off = int(toks[j1])
                    j = nxt
                else:
                    # plain OFFSET n ROWS (no FETCH): Spark has no
                    # ROW(S) word — emit OFFSET n
                    out.append(f" OFFSET {toks[j1]} ")
                    i = j2 + 1
                    continue
            else:
                out.append(t)
                i += 1
                continue
        if j < n and toks[j].upper() == "FETCH":
            f1 = code(j + 1)
            f2 = code(f1 + 1) if f1 < n else n
            f3 = code(f2 + 1) if f2 < n else n
            if (
                f1 < n and toks[f1].upper() in ("FIRST", "NEXT")
                and f2 < n and re.fullmatch(r"\d+", toks[f2])
                and f3 < n and toks[f3].upper() in ("ROW", "ROWS")
            ):
                f4 = code(f3 + 1)
                cnt = toks[f2]
                if f4 < n and toks[f4].upper() == "ONLY":
                    out.append(
                        f" LIMIT {cnt}"
                        + (f" OFFSET {off}" if off else " ")
                    )
                    i = f4 + 1
                    continue
                if (
                    f4 < n and toks[f4].upper() == "WITH"
                    and code(f4 + 1) < n
                    and toks[code(f4 + 1)].upper() == "TIES"
                ):
                    if off:
                        raise DialectError(
                            "OFFSET … FETCH … WITH TIES: the ties "
                            "boundary plan has no offset tier — "
                            "drop the OFFSET or use ONLY"
                        )
                    out.append(f" LIMIT {cnt} WITH TIES ")
                    i = code(f4 + 1) + 1
                    continue
            if (
                f1 < n and toks[f1].upper() in ("FIRST", "NEXT")
            ):
                # matched prefix, malformed tail — refuse with the
                # grammar instead of leaking a parse error
                raise DialectError(
                    "FETCH takes FIRST|NEXT <n> ROW[S] "
                    "ONLY|WITH TIES"
                )
            # bare identifier `fetch` (a legal column name in both
            # engines) — pass through (code-review r15c)
        out.append(t)
        i += 1
    return _tokens("".join(out))


def _select_out_names(head_text: str):
    """Output column names of a flat SELECT, parsed TEXTUALLY —
    the resolver-blind tier of the LIMIT BY inject decision (r15
    batch 31).  Returns None when the list can't be enumerated
    ('*' present, top-level DISTINCT — injecting a window into a
    DISTINCT select would change its semantics — or no SELECT/FROM
    shape)."""
    toks = _tokens(head_text)
    sel = from_i = None
    for i in _top_level(toks):
        if _is_ident(toks[i]):
            u = toks[i].upper()
            if u == "SELECT" and sel is None:
                sel = i
            elif u == "DISTINCT" and sel is not None and from_i is None:
                return None
            elif u == "FROM" and sel is not None:
                from_i = i
                break
    if sel is None or from_i is None:
        return None
    names: set[str] = set()
    for item in _split_top_commas("".join(toks[sel + 1:from_i])):
        ts = [t for t in _tokens(item) if not _is_skippable(t)]
        if not ts:
            continue
        if "*" in ts:
            return None
        if (
            len(ts) >= 3 and _is_ident(ts[-1])
            and ts[-2].upper() == "AS"
        ):
            names.add(ts[-1].lower())
        elif len(ts) == 1 and _is_ident(ts[0]):
            names.add(ts[0].lower())
        elif (
            len(ts) == 3 and ts[1] == "." and _is_ident(ts[2])
            and _is_ident(ts[0])
        ):
            names.add(ts[2].lower())  # t.x projects as x
        elif (
            len(ts) >= 2 and _is_ident(ts[-1])
            and (
                _is_ident(ts[-2]) or ts[-2] in (")", "]")
                or ts[-2][:1].isdigit() or ts[-2][:1] in "'\""
            )
        ):
            # AS-less implicit alias: `SELECT x y` / `f(x) y`
            # (code-review r15c: missing it flipped working wrap
            # queries into the lateral-alias inject path)
            names.add(ts[-1].lower())
        # other shapes contribute no name (CH auto-names by text)
    return names


def _rewrite_distinct_on(toks: list[str]) -> list[str]:
    """``SELECT DISTINCT ON (k…) …`` → the equivalent ``LIMIT 1 BY
    k…`` (ClickHouse documents the two as identical), spliced before
    any trailing top-level LIMIT so the LIMIT BY machinery handles
    ranking, schema, and the global-limit composition."""
    while True:
        hit = None
        for i, t in enumerate(toks):
            if t.upper() != "DISTINCT":
                continue
            p = _prev_code(toks, i - 1)
            n1 = _next_code(toks, i + 1)
            if (
                p >= 0
                and toks[p].upper() == "SELECT"
                and n1 < len(toks)
                and toks[n1].upper() == "ON"
            ):
                o = _next_code(toks, n1 + 1)
                if o < len(toks) and toks[o] == "(":
                    hit = (i, o)
                    break
        if hit is None:
            return toks
        i, o = hit
        oclose = _match_close(toks, o)
        cols = "".join(
            t for t in toks[o + 1 : oclose] if not t.startswith("--")
        ).strip()
        # find the splice point: first depth-0 LIMIT after the column
        # list, else the end of this SELECT's segment
        ins = next(
            (j for j in _top_level(toks, oclose + 1) if toks[j].upper() in (
                ")", "]", ";", "LIMIT", "UNION", "INTERSECT", "EXCEPT",
            )),
            len(toks),
        )
        toks = (
            toks[: i]
            + toks[oclose + 1 : ins]
            + _tokens(f" LIMIT 1 BY {cols} ")
            + toks[ins:]
        )


def _ties_sort_keys(
    ord_toks: list[str],
) -> list[tuple[str, bool, bool]]:
    """Split an ORDER BY token span on top-level commas into
    ``(expr_sql, desc, nulls_first)`` triples.  When the query does
    not spell NULLS FIRST/LAST, the default is ClickHouse's, not
    Spark's: NULLS LAST for BOTH directions (Spark would place NULLs
    first under ASC, silently swapping which rows a row-selecting
    LIMIT … WITH TIES keeps over a nullable key — ADVICE r7).  The
    caller always emits the placement explicitly into the rewritten
    SQL, so Spark's own default never applies."""
    parts = _split_commas(ord_toks)
    keys: list[tuple[str, bool, bool]] = []
    for p in parts:
        code = [
            k for k, t in enumerate(p) if not _is_skippable(t)
        ]
        desc = False
        nulls_first: bool | None = None
        if (
            len(code) >= 2
            and _is_ident(p[code[-2]])
            and p[code[-2]].upper() == "NULLS"
            and p[code[-1]].upper() in ("FIRST", "LAST")
        ):
            nulls_first = p[code[-1]].upper() == "FIRST"
            p = p[: code[-2]]
            code = code[:-2]
        if (
            code
            and _is_ident(p[code[-1]])
            and p[code[-1]].upper() in ("ASC", "DESC")
        ):
            desc = p[code[-1]].upper() == "DESC"
            p = p[: code[-1]]
        if nulls_first is None:
            nulls_first = False  # ClickHouse default: NULLS LAST
        expr = "".join(p).strip()
        if not expr:
            raise DialectError("empty ORDER BY expression")
        keys.append((expr, desc, nulls_first))
    return keys


def _ties_before(e: str, b: str, desc: bool, nulls_first: bool) -> str:
    """SQL predicate: sort key ``e`` orders strictly before boundary
    ``b`` under (desc, nulls_first).  NULL-valued comparisons resolve
    to NULL, which WHERE treats as false — exactly the wanted
    'not strictly before' outcome."""
    cmp = f"({e}) > ({b})" if desc else f"({e}) < ({b})"
    if nulls_first:
        return f"((({e}) IS NULL AND ({b}) IS NOT NULL) OR {cmp})"
    return f"(({cmp}) OR (({b}) IS NULL AND ({e}) IS NOT NULL))"


def _rewrite_limit_ties(toks: list[str]) -> list[str]:
    """``… ORDER BY o LIMIT n WITH TIES`` → two-pass boundary plan
    (ClickHouse semantics: peers of the n-th row survive).

    Pass 1 computes the n-th row's sort key with ``ORDER BY k LIMIT
    n`` over only the key columns — Spark plans that as
    TakeOrderedAndProject (per-partition top-n + driver merge of n·P
    keys, no global sort, columns pruned to the keys).  Pass 2
    re-scans the input and keeps rows whose key tuple is
    lexicographically ≤ the boundary via a broadcast of the single
    boundary row.  This replaces the previous global unpartitioned
    ``rank()`` window, which funneled every row through one task — a
    single-task bottleneck at scale (round-6 verdict item #2).

    Requires the top-level ORDER BY (as ClickHouse does)."""
    # find depth-0 LIMIT n WITH TIES
    hit = None
    for i in _top_level(toks):
        if toks[i].upper() == "WITH":
            j = _next_code(toks, i + 1)
            if j < len(toks) and toks[j].upper() == "TIES":
                n_i = _prev_code(toks, i - 1)
                l_i = _prev_code(toks, n_i - 1) if n_i >= 0 else -1
                if (
                    l_i >= 0
                    and toks[l_i].upper() == "LIMIT"
                    and n_i >= 0
                ):
                    hit = (l_i, n_i, j)
                break
    if hit is None:
        return toks
    l_i, n_i, ties_end = hit
    tail = "".join(toks[ties_end + 1 :]).strip()
    if tail and tail != ";":
        raise DialectError("LIMIT ... WITH TIES must end the query")
    n = toks[n_i]
    # the top-level ORDER BY before the LIMIT
    ord_i = None
    for i in _top_level(toks, 0, l_i):
        if toks[i].upper() == "ORDER":
            j = _next_code(toks, i + 1)
            if j < len(toks) and toks[j].upper() == "BY":
                ord_i = i
    if ord_i is None:
        raise DialectError(
            "LIMIT ... WITH TIES needs a top-level ORDER BY (ties are "
            "defined by it)"
        )
    by_i = _next_code(toks, ord_i + 1)
    keys = _ties_sort_keys(toks[by_i + 1 : l_i])
    core = "".join(toks[:ord_i]).strip()

    def dir_sfx(desc: bool, nf: bool) -> str:
        return ("DESC" if desc else "ASC") + (
            " NULLS FIRST" if nf else " NULLS LAST"
        )

    kcols = ", ".join(
        f"({e}) AS __tk{i}" for i, (e, _, _) in enumerate(keys)
    )
    fwd = ", ".join(
        f"__tk{i} {dir_sfx(d, nf)}" for i, (_, d, nf) in enumerate(keys)
    )
    rev = ", ".join(
        f"__tk{i} {dir_sfx(not d, not nf)}"
        for i, (_, d, nf) in enumerate(keys)
    )
    # lexicographic 'row key ≤ boundary key': strictly-before on the
    # first differing key, null-safe equality otherwise
    pred = f"(({keys[-1][0]}) <=> __ties_bnd.__tk{len(keys) - 1})"
    pred = (
        f"({_ties_before(keys[-1][0], f'__ties_bnd.__tk{len(keys) - 1}', keys[-1][1], keys[-1][2])}"
        f" OR {pred})"
    )
    for i in range(len(keys) - 2, -1, -1):
        e, d, nf = keys[i]
        b = f"__ties_bnd.__tk{i}"
        pred = (
            f"({_ties_before(e, b, d, nf)} OR "
            f"((({e}) <=> {b}) AND {pred}))"
        )
    outer_ord = ", ".join(
        f"({e}) {dir_sfx(d, nf)}" for e, d, nf in keys
    )
    return _tokens(
        f"WITH __ties_b AS ({core}), "
        f"__ties_bnd AS (SELECT * FROM ("
        f"SELECT {kcols} FROM __ties_b ORDER BY {fwd} LIMIT {n}"
        f") __ties_top ORDER BY {rev} LIMIT 1) "
        f"SELECT __ties_b.* FROM __ties_b CROSS JOIN __ties_bnd "
        f"WHERE {pred} ORDER BY {outer_ord}"
    )


def _rewrite_type_casts(toks: list[str]) -> list[str]:
    """``expr::CHType`` — map the ClickHouse type name after the
    ``::`` cast operator to its Spark type (Spark supports ``::``
    natively, only the type vocabulary differs).  Unknown names pass
    through (they may already be Spark types)."""
    from clickhouse_vs_dbt_spark.ddl import convert_type

    i = 0
    while i < len(toks) - 1:
        if toks[i] == ":" and toks[i + 1] == ":":
            t_i = _next_code(toks, i + 2)
            if t_i < len(toks) and _is_ident(toks[t_i]):
                t_end = t_i
                n1 = _next_code(toks, t_i + 1)
                if n1 < len(toks) and toks[n1] == "(":
                    t_end = _match_close(toks, n1)
                type_txt = "".join(toks[t_i : t_end + 1])
                try:
                    spark_t = convert_type(type_txt)
                except Exception:
                    i += 1
                    continue
                toks[t_i : t_end + 1] = [spark_t]
                i = t_i
                continue
        i += 1
    return toks


_STAR_CLAUSE_STOPS = {
    "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "WINDOW",
    "QUALIFY", "UNION", "INTERSECT", "SETTINGS", "FORMAT", "EXCEPT",
}


def _star_from_relation(toks: list[str], star_i: int) -> str | None:
    """Text of the FROM relation belonging to the SELECT containing
    the star at ``star_i`` (same nesting depth), or None.  The
    relation span ends at the next same-depth clause keyword or the
    closing paren of the enclosing subquery."""
    from_i = next(
        (i for i in _top_level(toks, star_i) if toks[i].upper() == "FROM"),
        None,
    )
    if from_i is None:
        return None
    end = next(
        (i for i in _top_level(toks, from_i + 1)
         if toks[i] in (")", "]") or toks[i].upper() in _STAR_CLAUSE_STOPS),
        len(toks),
    )
    rel = "".join(toks[from_i + 1 : end]).strip()
    return rel or None


def _parse_star_mods(
    toks: list[str], pos: int
) -> tuple[list[tuple[str, list[str]]], int]:
    """Parse a chain of ``EXCEPT (…) / REPLACE (…) / APPLY (…)``
    star modifiers starting at code index ``pos`` → (mods, index of
    the last consumed token, or pos-1 when empty)."""
    mods: list[tuple[str, list[str]]] = []
    end = pos - 1
    while (
        pos < len(toks)
        and _is_ident(toks[pos])
        and toks[pos].upper() in ("EXCEPT", "REPLACE", "APPLY")
    ):
        kind = toks[pos].upper()
        p = _next_code(toks, pos + 1)
        if p >= len(toks) or toks[p] != "(":
            break
        close = _match_close(toks, p)
        inner = toks[p + 1 : close]
        if kind == "EXCEPT":
            fc = _next_code(inner, 0)
            if (
                fc < len(inner)
                and _is_ident(inner[fc])
                and inner[fc].upper() == "SELECT"
            ):
                break  # set-operation EXCEPT, not a modifier
        mods.append((kind, inner))
        end = close
        pos = _next_code(toks, close + 1)
    return mods, end


def _rewrite_star_modifiers(toks: list[str], resolve_columns=None):
    """ClickHouse star modifiers and dynamic column selection:
    ``* [EXCEPT (…)] [REPLACE (expr AS name, …)] [APPLY (f)]…`` and
    ``COLUMNS('regex'|col, …) [modifiers…]`` — expand through the
    catalog resolver into an explicit projection (``* EXCEPT`` alone
    is Spark-native and passes through).  EXCEPT drops columns,
    REPLACE substitutes an expression while keeping the column name,
    each APPLY wraps every surviving column ``c`` as ``f(c)`` named
    ``f(c)`` — ClickHouse's documented naming.  ``COLUMNS('re')``
    selects the relation's columns whose name matches the regex
    (re.search, ClickHouse's partial-match semantics) in table
    order.  Pure token-level expansion, so Catalyst still sees a
    plain projection (column pruning intact)."""
    while True:
        hit = None
        for i, t in enumerate(toks):
            base_cols_filter = None  # COLUMNS(...) selection
            if t == "*":
                j = _next_code(toks, i + 1)
                mods, end = _parse_star_mods(toks, j)
                if not (mods and any(k != "EXCEPT" for k, _ in mods)):
                    continue
                p = _prev_code(toks, i - 1)
                if p >= 0 and toks[p] == ".":
                    # qualified t.* — the resolver lists the WHOLE
                    # FROM relation's columns, which would expand the
                    # wrong set; refuse rather than mis-expand
                    raise DialectError(
                        "REPLACE/APPLY on a qualified star (t.*) is "
                        "not supported; use a bare * or spell the "
                        "projection out"
                    )
            elif _is_ident(t) and t.upper() == "COLUMNS":
                p = _next_code(toks, i + 1)
                if p >= len(toks) or toks[p] != "(":
                    continue
                close = _match_close(toks, p)
                inner = [
                    t2
                    for t2 in toks[p + 1 : close]
                    if not _is_skippable(t2)
                ]
                if (
                    len(inner) == 1
                    and inner[0].startswith("'")
                    and inner[0].endswith("'")
                ):
                    pat = inner[0][1:-1]
                    base_cols_filter = lambda cols, _p=pat: [
                        c for c in cols if re.search(_p, c)
                    ]
                elif inner and all(
                    (_is_ident(t2) or t2 == ",") for t2 in inner
                ):
                    names = [t2 for t2 in inner if t2 != ","]
                    base_cols_filter = lambda cols, _n=names: [
                        c
                        for c in cols
                        if c.lower() in {x.lower() for x in _n}
                    ]
                else:
                    continue  # not a recognized COLUMNS form
                j = _next_code(toks, close + 1)
                mods, end = _parse_star_mods(toks, j)
                if end < j:
                    end = close
            else:
                continue
            hit = (i, end, mods, base_cols_filter)
            break
        if hit is None:
            return toks
        star_i, end, mods, base_cols_filter = hit
        # COLUMNS as a function ARGUMENT — f(COLUMNS('re')) — passes
        # each matched column as a separate bare argument
        # (ClickHouse's documented call semantics); the projection
        # form's `expr AS name` items would inject aliases into an
        # argument list and produce invalid Spark SQL (ADVICE r7).
        # The FROM relation then lives OUTSIDE the enclosing call's
        # parens, so resolve it from past the call's close.
        in_call = False
        rel_from = end + 1
        if base_cols_filter is not None:
            p = _prev_code(toks, star_i - 1)
            if p >= 0 and toks[p] == "(":
                pp = _prev_code(toks, p - 1)
                if pp >= 0 and _is_ident(toks[pp]):
                    in_call = True
                    rel_from = _match_close(toks, p) + 1
        rel = _star_from_relation(toks, rel_from)
        cols = (
            resolve_columns(rel)
            if (resolve_columns is not None and rel)
            else None
        )
        if not cols:
            raise DialectError(
                "* REPLACE/APPLY and COLUMNS(...) need the relation's "
                "column list; run through run_clickhouse_sql (catalog "
                "resolver) or spell the projection out"
            )
        if base_cols_filter is not None:
            cols = base_cols_filter(cols)
            if not cols:
                raise DialectError(
                    "COLUMNS(...) matched no columns of the relation"
                )
            if in_call:
                if mods:
                    raise DialectError(
                        "COLUMNS(...) modifiers (EXCEPT/REPLACE/"
                        "APPLY) are not supported inside a function "
                        "call; apply the function via APPLY or "
                        "spell the arguments out"
                    )
                toks[star_i : end + 1] = _tokens(
                    ", ".join(f"`{c}`" for c in cols)
                )
                continue
        except_set: set[str] = set()
        replace_map: dict[str, str] = {}
        applies: list[str] = []
        for kind, inner in mods:
            if kind == "EXCEPT":
                for item in _split_commas(inner):
                    name = "".join(
                        t for t in item if not _is_skippable(t)
                    ).strip('`"')
                    if name:
                        except_set.add(name.lower())
            elif kind == "REPLACE":
                for item in _split_commas(inner):
                    code = [
                        k
                        for k, t in enumerate(item)
                        if not _is_skippable(t)
                    ]
                    if (
                        len(code) < 3
                        or item[code[-2]].upper() != "AS"
                    ):
                        raise DialectError(
                            "* REPLACE items must be 'expr AS name'"
                        )
                    name = item[code[-1]].strip('`"')
                    expr = "".join(item[: code[-2]]).strip()
                    replace_map[name.lower()] = expr
            else:  # APPLY
                fn = "".join(
                    t for t in inner if not _is_skippable(t)
                ).strip()
                if not fn:
                    raise DialectError("* APPLY needs a function name")
                applies.append(fn)
        # ClickHouse rejects EXCEPT/REPLACE names that match nothing —
        # silently dropping them would hide typos
        known = {c.lower() for c in cols}
        bad = sorted(
            (except_set | set(replace_map)) - known
        )
        if bad:
            raise DialectError(
                f"star modifier names not in the relation: {bad}"
            )
        items: list[str] = []
        for c in cols:
            if c.lower() in except_set:
                continue
            expr = replace_map.get(c.lower(), f"`{c}`")
            name = c
            for f in applies:
                expr = f"{f}({expr})"
                name = f"{f}({name})"
            items.append(f"{expr} AS `{name}`")
        if not items:
            raise DialectError(
                "* EXCEPT removed every column of the star"
            )
        toks[star_i : end + 1] = _tokens(", ".join(items))


def _sample_fraction(toks: list[str], i: int, allow_rows=False) -> tuple:
    """Parse ``num [/ den]`` starting at code index ``i`` → (Fraction,
    index after the last consumed token).  Integer ≥ 1 without a
    denominator is ClickHouse's approximate-row-count form: with
    ``allow_rows`` it returns ``("rows", n)`` (the caller derives the
    fraction from a scalar ``COUNT(*)`` subquery, r8); in OFFSET
    position it refuses (CH offsets are fractions of the keyspace)."""
    from fractions import Fraction

    num = toks[i]
    j = _next_code(toks, i + 1)
    if j < len(toks) and toks[j] == "/":
        k = _next_code(toks, j + 1)
        if k >= len(toks) or not re.match(r"\d+$", toks[k]):
            raise DialectError("malformed SAMPLE fraction")
        return Fraction(int(num), int(toks[k])), k + 1
    f = Fraction(num)
    if f >= 1:
        if allow_rows and f.denominator == 1:
            return ("rows", int(f)), i + 1
        raise DialectError(
            "SAMPLE OFFSET takes a fraction of the keyspace "
            "(OFFSET 1/2), not a row count"
        )
    return f, i + 1


#: tokens that bound a ternary operand (same nesting depth).  AND/OR
#: are deliberately NOT stops: ClickHouse gives ?: lower precedence
#: than the logical operators (C rules), so `a AND b ? x : y` is
#: `(a AND b) ? x : y` and the else side absorbs `c AND d`.
_TERNARY_STOP = {
    "SELECT", "FROM", "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT",
    "BY", "AS", "WHEN", "THEN", "ELSE", "END", "UNION",
    "ON", "JOIN", "SETTINGS", "CASE", "WITH", "ASC", "DESC",
    # the SELECT quantifiers: without these, `SELECT DISTINCT a ? b
    # : c` would absorb DISTINCT into the condition and emit
    # IF(DISTINCT a, …) — an opaque Spark parse error (ADVICE r7)
    "DISTINCT", "ALL",
}


def _rewrite_ternary(toks: list[str]) -> list[str]:
    """ClickHouse's C-style ternary ``cond ? a : b`` → ``IF(cond, a,
    b)``.  Runs after the ``::`` cast rewrite, so a remaining ``?``
    at expression level is always a ternary (strings/comments are
    opaque tokens).  Operand boundaries are the nearest same-depth
    comma/paren/clause keyword; nested ternaries resolve over
    repeated passes (branches of the emitted IF re-scan)."""
    fuse = 0
    while "?" in toks and fuse < 50:
        fuse += 1
        q = toks.index("?")
        # matching ':' — count nested '?' at any depth to its right
        need = 0
        colon = None
        for j in _top_level(toks, q + 1):
            if toks[j] == "?":
                need += 1
            elif toks[j] == ":":
                if need == 0:
                    colon = j
                    break
                need -= 1
        if colon is None:
            raise DialectError("ternary '?' without matching ':'")
        # condition start: walk left at the same depth
        j = q - 1
        while j >= 0 and not (
            toks[j] in ("(", "[", ",") or toks[j].upper() in _TERNARY_STOP
        ):
            j = _match_open(toks, j) - 1 if toks[j] in (")", "]") else j - 1
        start = j + 1
        # else-branch end: walk right from the colon
        end = next(
            (j for j in _top_level(toks, colon + 1)
             if toks[j] in (")", "]", ",", ";")
             or toks[j].upper() in _TERNARY_STOP),
            len(toks),
        )
        cond = "".join(toks[start:q]).strip()
        then = "".join(toks[q + 1 : colon]).strip()
        els = "".join(toks[colon + 1 : end]).strip()
        if not cond or not then or not els:
            raise DialectError("malformed ternary expression")
        toks[start:end] = _tokens(f" IF({cond}, {then}, {els}) ")
    return toks


def _rewrite_in_table(toks: list[str], resolve_columns=None):
    """ClickHouse ``x IN table_name`` (implicit SELECT *) → ``x IN
    (SELECT * FROM table_name)`` — only when the catalog resolver
    confirms the identifier IS a relation (an unresolvable name
    passes through untouched, so scalar/column right sides keep
    their meaning)."""
    if resolve_columns is None:
        return toks
    i = 0
    while i < len(toks):
        t = toks[i]
        if _is_ident(t) and t.upper() == "IN":
            j = _next_code(toks, i + 1)
            if (
                j < len(toks)
                and _is_ident(toks[j])
                and toks[j].upper() not in ("SELECT",)
            ):
                # dotted names too (db.t)
                end = j
                k = _next_code(toks, j + 1)
                while (
                    k < len(toks)
                    and toks[k] == "."
                    and _next_code(toks, k + 1) < len(toks)
                    and _is_ident(toks[_next_code(toks, k + 1)])
                ):
                    end = _next_code(toks, k + 1)
                    k = _next_code(toks, end + 1)
                rel = "".join(
                    x for x in toks[j : end + 1] if not _is_skippable(x)
                )
                if resolve_columns(rel) is not None:
                    toks[j : end + 1] = _tokens(
                        f"(SELECT * FROM {rel})"
                    )
        i += 1
    return toks


def _rewrite_system_tables(toks: list[str]) -> list[str]:
    """``system.one`` → a literal one-row relation (the ClickHouse
    dual table); ``system.numbers``/``numbers_mt`` (unbounded) refuse
    toward the bounded ``numbers(n)`` table function; other
    ``system.*`` introspection tables refuse toward Spark's catalog
    (SHOW TABLES / DESCRIBE run natively through the script front
    door)."""
    i = 0
    while i < len(toks) - 2:
        if (
            _is_ident(toks[i])
            and toks[i].lower() == "system"
            and toks[i + 1] == "."
            and _is_ident(toks[i + 2])
        ):
            obj = toks[i + 2].lower()
            if obj == "one":
                toks[i : i + 3] = _tokens(
                    "(SELECT 1 AS dummy) __system_one"
                )
            elif obj in ("numbers", "numbers_mt"):
                raise DialectError(
                    "system.numbers is unbounded; use the numbers(n) "
                    "table function (range relation)"
                )
            else:
                raise DialectError(
                    f"system.{obj} is ClickHouse server introspection; "
                    "use Spark's catalog (SHOW TABLES / DESCRIBE "
                    "TABLE run natively through the script runner)"
                )
        i += 1
    return toks


#: SAMPLE <row-count> scalar-count memo: table name → (storage
#: signature, COUNT(*)).  Bounded by distinct sampled table names.
_TABLE_COUNT_MEMO: dict[str, tuple[str, int]] = {}


def _memoized_table_count(table: str):
    """Scalar ``COUNT(*)`` for the ``SAMPLE <row-count>`` form,
    memoized per immutable table storage (VERDICT r12 item 6; the
    fuzzy ``_NAME_STATS`` precedent).  ClickHouse reads this count
    from part metadata; Spark's footer-only count-star is cheap but
    still a job per execution — repeated row-count samples over
    unchanged files skip it, and the folded literal lets Catalyst
    turn the whole hash-range bound into a constant.  The key is the
    table's LOCAL storage signature (every file's relative path,
    size and mtime_ns under the location), so any INSERT, mutation,
    OPTIMIZE rewrite or re-create invalidates the entry.  Non-local
    locations, views, and missing sessions return None — the runtime
    scalar-subquery form stays, correct under all of them."""
    try:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            return None
        loc = None
        for row in spark.sql(
            f"DESCRIBE FORMATTED {table}"
        ).collect():
            if str(row[0]).strip() == "Location":
                loc = str(row[1]).strip()
                break
        if not loc or not loc.startswith("file:"):
            return None
        import os

        root = loc.removeprefix("file:")
        if not os.path.exists(root):
            return None
        parts = []
        if os.path.isfile(root):  # path_override to a single file
            st = os.stat(root)
            parts.append(f".:{st.st_size}:{st.st_mtime_ns}")
        for dirpath, _dirs, files in os.walk(root):
            for fn in files:
                p = os.path.join(dirpath, fn)
                st = os.stat(p)
                parts.append(
                    f"{os.path.relpath(p, root)}:{st.st_size}:"
                    f"{st.st_mtime_ns}"
                )
        sig = loc + "|" + "|".join(sorted(parts))
        ent = _TABLE_COUNT_MEMO.get(table)
        if ent is not None and ent[0] == sig:
            return ent[1]
        n = spark.table(table).count()
        _TABLE_COUNT_MEMO[table] = (sig, n)
        return n
    except Exception:
        return None  # any surprise keeps the subquery form


def _rewrite_sample_clause(toks: list[str], engine_info=None):
    """``FROM t SAMPLE k [OFFSET m]`` → deterministic hash-range
    slice on the table's ``SAMPLE BY`` column (captured by the DDL
    front door): keep rows whose portable 32-bit mix of the key falls
    in ``[2^32·m, 2^32·(m+k))`` — ClickHouse's intHash32-range
    semantics with the repo's engine-portable mixer
    (operators/sampling.py), so re-runs are idempotent and slices
    with distinct OFFSETs are disjoint.  The predicate is a map-side
    filter inside a wrapping subquery — no shuffle, scan-cost only.
    ``FROM t FINAL SAMPLE k`` keeps FINAL inside the subquery (the
    later _rewrite_final pass collapses it); sampling BEFORE the
    collapse is sound because ClickHouse requires the sample key in
    the primary key — every collapse group carries one sample-key
    value, so groups are kept or dropped atomically.  Without
    registered DDL (no SAMPLE BY key) the clause refuses, as letting
    Spark parse SAMPLE as a table alias would be a silent semantic
    change."""
    while True:
        hit = None
        for i, t in enumerate(toks):
            if _is_ident(t) and t.upper() == "SAMPLE":
                j = _next_code(toks, i + 1)
                if j < len(toks) and re.match(r"\d", toks[j]):
                    hit = (i, j)
                    break
        if hit is None:
            return toks
        s_i, n_i = hit
        frac, after = _sample_fraction(toks, n_i, allow_rows=True)
        off_frac = None
        j = _next_code(toks, after)
        if (
            j < len(toks)
            and _is_ident(toks[j])
            and toks[j].upper() == "OFFSET"
        ):
            k = _next_code(toks, j + 1)
            if k >= len(toks) or not re.match(r"\d", toks[k]):
                raise DialectError("SAMPLE ... OFFSET needs a fraction")
            off_frac, after = _sample_fraction(toks, k)
        end = after - 1  # last token of the SAMPLE clause
        # the relation before SAMPLE: walk back to the nearest FROM at
        # the same depth; the span must be a simple table reference
        from_i = s_i - 1
        while from_i >= 0 and toks[from_i] not in ("(", "[") and (
            toks[from_i].upper() != "FROM"
        ):
            from_i = (
                _match_open(toks, from_i) if toks[from_i] in (")", "]")
                else from_i
            ) - 1
        if from_i < 0 or toks[from_i].upper() != "FROM":
            raise DialectError("SAMPLE clause without a FROM table")
        rel_code = [
            t
            for t in toks[from_i + 1 : s_i]
            if not _is_skippable(t)
        ]
        # FROM t FINAL SAMPLE k — keep FINAL inside the wrapped
        # subquery; _rewrite_final (which runs later in the pipeline)
        # serves it from the registered DDL
        final_kw = ""
        if rel_code and rel_code[-1].upper() == "FINAL":
            final_kw = " FINAL"
            rel_code = rel_code[:-1]
        alias = None
        if (
            len(rel_code) >= 2
            and _is_ident(rel_code[-1])
            and rel_code[-1].upper() not in ("AS",)
            and (
                len(rel_code) == 2
                or rel_code[-2].upper() == "AS"
                or _is_ident(rel_code[-2])
                or rel_code[-2] == "."
            )
        ):
            # trailing bare identifier not part of a dotted name
            if rel_code[-2] != "." and rel_code[-1].upper() != "FINAL":
                alias = rel_code[-1]
                rel_code = rel_code[:-1]
                if rel_code and rel_code[-1].upper() == "AS":
                    rel_code = rel_code[:-1]
        table = "".join(rel_code).strip()
        if not table or not re.match(
            r"[A-Za-z_][A-Za-z0-9_.]*$", table
        ):
            raise DialectError(
                "SAMPLE applies to a plain table reference; "
                f"got {table!r}"
            )
        info = engine_info(table) if engine_info is not None else None
        key = getattr(info, "sample_by", None) if info else None
        if not key:
            raise DialectError(
                f"SAMPLE on {table!r} needs the table's SAMPLE BY key "
                "— run its CREATE TABLE through the DDL front door, "
                "or use the clickhouse_sample_clause operator "
                "(deterministic hash-range slice)"
            )
        from clickhouse_vs_dbt_spark.operators.sampling import (
            mix_hash_sql,
        )

        h = mix_hash_sql("spark", key)
        if isinstance(frac, tuple):  # SAMPLE <row-count> (r8)
            memo_n = _memoized_table_count(table)
            count_expr = (
                str(memo_n) if memo_n is not None
                else f"(SELECT COUNT(*) FROM {table})"
            )
            # ClickHouse's approximate-row-count form: "at least n
            # rows".  The fraction comes from the table's COUNT(*) —
            # memoized per immutable storage and folded as a LITERAL
            # when a session + local location allow (r13), else a
            # scalar subquery.  The fold binds the bound to the
            # TRANSPILE-time snapshot: the front-door runners
            # (run_clickhouse_sql / run_clickhouse_script) transpile
            # per execution, so freshness is preserved there — a
            # caller caching the transpiled string gets snapshot
            # semantics, the same binding CH gets reading part
            # metadata at submission (code-review r13a, documented).  A keyspace-fractional OFFSET m
            # shifts the slice start (VERDICT r11 item 4, flips the
            # r8 refusal): the width is the same runtime n/COUNT(*)
            # fraction, clamped to the remaining keyspace, so
            # SAMPLE n OFFSET m reads ≈n rows starting at fraction m
            # — disjoint from any slice ending at or before m, the
            # same contract as the fractional form.
            n_rows = frac[1]
            lo = int(4294967296 * (off_frac or 0))
            # floor() BEFORE the BIGINT cast: Spark's double->bigint
            # cast truncates but DuckDB's rounds-to-nearest, so an
            # explicitly-truncating form keeps the engine and oracle
            # bounds bit-identical (ADVICE r8)
            hi_dyn = (
                f"CAST(floor(LEAST(CAST({4294967296 - lo} AS DOUBLE), "
                f"4294967296.0 * {n_rows} / GREATEST(CAST(1 AS "
                f"BIGINT), {count_expr}))) "
                f"AS BIGINT)"
            )
            if lo:
                pred = f"{h} >= {lo} AND {h} < {lo} + {hi_dyn}"
            else:
                pred = f"{h} < {hi_dyn}"
        else:
            # lo/hi truncate the EXACT rational off and off+frac, so
            # a slice's upper bound equals the next slice's lower
            # bound for ANY fractions — adjacent slices partition the
            # hash space with no orphaned values (truncating offset
            # and width independently leaves gaps for non-dyadic
            # fractions, ADVICE r7); off+frac == 1 lands exactly on
            # 2^32
            lo = int(4294967296 * (off_frac or 0))
            hi = int(4294967296 * ((off_frac or 0) + frac))
            pred = f"{h} >= {lo} AND {h} < {hi}"
        repl = (
            f"(SELECT * FROM {table}{final_kw} WHERE {pred}) "
            f"{alias or table.split('.')[-1]}"
        )
        toks[from_i + 1 : end + 1] = _tokens(f" {repl} ")


_PASTE_NOT_ALIAS = frozenset(
    "WHERE GROUP ORDER LIMIT UNION INTERSECT EXCEPT SETTINGS HAVING "
    "QUALIFY JOIN INNER LEFT RIGHT FULL CROSS PASTE ON USING WINDOW "
    "FORMAT".split()
)


def _split_top_commas(text: str) -> list[str]:
    """Text form of :func:`_split_commas`; an empty last part is
    dropped."""
    parts = ["".join(p) for p in _split_commas(_tokens(text))]
    return parts[:-1] if parts[-1] == "" else parts


#: fixed-width reinterpret targets: name → (byte width, signed)
_REINTERPRET_INTS = {
    "UInt8": (1, False), "UInt16": (2, False),
    "UInt32": (4, False), "UInt64": (8, False),
    "Int8": (1, True), "Int16": (2, True),
    "Int32": (4, True), "Int64": (8, True),
}


def _reinterpret(name: str, args: list[str]) -> str:
    """Fixed-width ``reinterpretAs*`` (VERDICT r10 item 4, flips the
    batch-8 refusal).  ClickHouse reinterprets the VALUE's
    little-endian in-memory bytes; the Spark spelling is pure byte
    algebra — hex → zero-pad to the target width → byte-order
    reversal (little- to big-endian) → conv — so no UDF and no JVM
    byte-copy.

    Contract per input type, dispatched on ``typeof`` (foldable, so
    the CASE collapses at optimization):

    * STRING input → the documented CH behavior: the first ``w``
      bytes of the string, zero-padded when short, little-endian.
      (Spark strings hex as UTF-8; CH strings are raw bytes —
      identical for the ASCII payloads these functions are used on.)
    * INTEGRAL input to an integer target → CH's width truncation:
      value mod 2⁸ʷ with two's-complement re-signing, the same byte
      result without a string detour.
    * anything else (float/date/decimal inputs, whose byte image
      depends on a source width Spark has already erased) →
      raise_error at RUNTIME with the spell-the-bytes pointer —
      loud, never a silent wrong reinterpretation.

    Variable-width / engine-layout targets (FixedString, UUID, the
    128/256-bit widths) keep the refusal."""
    if len(args) != 1:
        raise DialectError(f"{name} takes exactly one argument")
    x = args[0]
    target = name[len("reinterpretAs"):]

    def hex_le_to_be(w: int) -> str:
        # first w bytes' hex, zero-padded, then byte-pair reversal;
        # the array-bind keeps the hex() spelled once
        h = f"rpad(substr(hex({x}), 1, {2 * w}), {2 * w}, '0')"
        if w == 1:
            return h
        rev = ", ".join(
            f"substr(__ri, {2 * i - 1}, 2)" for i in range(w, 1, -1)
        )
        return (
            f"element_at(transform(array({h}), "
            f"__ri -> concat({rev}, substr(__ri, 1, 2))), 1)"
        )

    guard = (
        f"raise_error(concat('{name}: a ', typeof({x}), ' input''s "
        "byte image depends on a source width Spark has erased — "
        "spell the bytes explicitly (hex()/unhex() + conv() "
        "transpile)'))"
    )
    int_types = "('tinyint', 'smallint', 'int', 'bigint')"

    if target in _REINTERPRET_INTS:
        w, signed = _REINTERPRET_INTS[target]
        be = hex_le_to_be(w)
        if w < 8:
            u = f"CAST(conv({be}, 16, 10) AS BIGINT)"
            half, full = 1 << (8 * w - 1), 1 << (8 * w)
            s_str = (
                f"(CASE WHEN {u} >= {half} THEN {u} - {full} "
                f"ELSE {u} END)" if signed else u
            )
            s_num = (
                f"(CASE WHEN pmod({x}, {full}) >= {half} "
                f"THEN pmod({x}, {full}) - {full} "
                f"ELSE pmod({x}, {full}) END)"
                if signed else f"pmod({x}, {full})"
            )
            s_num = f"CAST({s_num} AS BIGINT)"
        elif signed:  # Int64: conv's signed base re-signs 64-bit
            s_str = f"CAST(conv({be}, 16, -10) AS BIGINT)"
            s_num = f"CAST({x} AS BIGINT)"
        else:  # UInt64 exceeds BIGINT: decimal algebra
            s_str = f"CAST(conv({be}, 16, 10) AS DECIMAL(20, 0))"
            s_num = (
                f"CAST(pmod(CAST({x} AS DECIMAL(20, 0)), "
                "18446744073709551616) AS DECIMAL(20, 0))"
            )
        return (
            f"(CASE WHEN typeof({x}) = 'string' THEN {s_str} "
            f"WHEN typeof({x}) IN {int_types} THEN {s_num} "
            f"ELSE {guard} END)"
        )
    if target in ("Date", "DateTime"):
        w = 2 if target == "Date" else 4
        be = hex_le_to_be(w)
        u = f"CAST(conv({be}, 16, 10) AS BIGINT)"
        n = f"CAST(pmod({x}, {1 << (8 * w)}) AS BIGINT)"
        wrap = (
            "date_add(DATE '1970-01-01', CAST({v} AS INT))"
            if target == "Date" else "timestamp_seconds({v})"
        )
        return (
            f"(CASE WHEN typeof({x}) = 'string' THEN {wrap.format(v=u)} "
            f"WHEN typeof({x}) IN {int_types} THEN {wrap.format(v=n)} "
            f"ELSE {guard} END)"
        )
    if target in ("Float32", "Float64"):
        # IEEE 754 assembly from the little-endian bit image: sign /
        # exponent / mantissa extracted with bit ops, value rebuilt as
        # sign · (implicit-one + mantissa) · 2^(exp − bias − mantbits).
        # Every factor is an exact power or an integer ≤ 2⁵³, so the
        # double product is bit-exact, including denormals (exp = 0)
        # and ±Inf/NaN (exp all-ones).
        w, ebits, mbits = (4, 8, 23) if target == "Float32" else (8, 11, 52)
        be = hex_le_to_be(w)
        bits = (
            f"CAST(conv({be}, 16, {'-10' if w == 8 else '10'}) AS BIGINT)"
        )
        emask = (1 << ebits) - 1
        mmask = (1 << mbits) - 1
        bias_off = (1 << (ebits - 1)) - 1 + mbits
        sign = (
            f"(CASE WHEN {{b}} < 0 THEN -1.0D ELSE 1.0D END)"
            if w == 8 else
            f"(CASE WHEN shiftrightunsigned({{b}}, 31) % 2 = 1 "
            "THEN -1.0D ELSE 1.0D END)"
        )
        body = (
            f"(CASE WHEN (shiftrightunsigned(__fb, {mbits}) & {emask}) "
            f"= {emask} THEN (CASE WHEN (__fb & {mmask}) = 0 THEN "
            f"{sign.format(b='__fb')} * CAST('Infinity' AS DOUBLE) "
            "ELSE CAST('NaN' AS DOUBLE) END) "
            f"WHEN (shiftrightunsigned(__fb, {mbits}) & {emask}) = 0 "
            f"THEN {sign.format(b='__fb')} * (__fb & {mmask}) "
            f"* pow(2.0D, {1 - bias_off}) "
            f"ELSE {sign.format(b='__fb')} "
            f"* ({1 << mbits} + (__fb & {mmask})) "
            f"* pow(2.0D, (shiftrightunsigned(__fb, {mbits}) "
            f"& {emask}) - {bias_off}) END)"
        )
        out = (
            f"element_at(transform(array({bits}), __fb -> {body}), 1)"
        )
        if target == "Float32":
            out = f"CAST({out} AS FLOAT)"
        return (
            f"(CASE WHEN typeof({x}) = 'string' THEN {out} "
            f"ELSE {guard} END)"
        )
    if target == "String":
        # number → the value's little-endian bytes, trailing null
        # bytes dropped (CH).  Negative values' byte image is
        # width-dependent (trailing FF runs are kept), and a byte
        # ≥ 0x80 is not valid single-byte UTF-8 (Spark strings are
        # UTF-8; CH strings are raw bytes) — both get the loud
        # runtime refusal, never an opaque charset crash or a
        # silently different string (code-review r11).
        be16 = (
            "element_at(transform(array(lpad(hex(__rs), 16, '0')), "
            "__ri -> concat(" + ", ".join(
                f"substr(__ri, {2 * i - 1}, 2)" for i in range(8, 1, -1)
            ) + ", substr(__ri, 1, 2))), 1)"
        )
        ascii_or_raise = (
            "CASE WHEN regexp_like(__rh, '^([0-7][0-9A-F])*$') "
            "THEN decode(unhex(__rh), 'UTF-8') "
            "ELSE raise_error(concat('reinterpretAsString: byte "
            "image 0x', __rh, ' has non-ASCII bytes — Spark strings "
            "are UTF-8 and cannot carry raw CH bytes; spell "
            "hex()/unhex() explicitly')) END"
        )
        return (
            f"(CASE WHEN typeof({x}) IN {int_types} THEN "
            f"(CASE WHEN {x} < 0 THEN {guard} ELSE "
            f"element_at(transform(array(CAST({x} AS BIGINT)), "
            f"__rs -> element_at(transform(array("
            f"regexp_replace({be16}, '(00)+$', '')), "
            f"__rh -> {ascii_or_raise}), 1)), 1) END) "
            f"ELSE {guard} END)"
        )
    raise DialectError(
        f"{name}: this target depends on CH's engine byte layout "
        "(FixedString padding, UUID halves, 128/256-bit widths) — "
        "the fixed-width UInt/Int8-64, Float32/64, Date, DateTime "
        "and String targets transpile (r11); spell anything else "
        "with hex()/unhex() + conv()"
    )


def _tuple_fields(arg: str) -> list[str] | None:
    """Field expressions of a RENDERED literal-arity tuple — either
    ``struct(f1, …)`` (what ``tuple(…)`` renders to) or a bare
    parenthesized ``(f1, f2, …)`` group — else ``None`` (a column
    reference or call result: arity unknown at transpile time)."""
    toks = _tokens(arg.strip())
    i = _next_code(toks, 0)
    if i >= len(toks):
        return None
    if _is_ident(toks[i]) and toks[i] == "struct":
        j = _next_code(toks, i + 1)
        if j < len(toks) and toks[j] == "(":
            close = _match_close(toks, j)
            if _next_code(toks, close + 1) >= len(toks):
                inner = "".join(toks[j + 1:close])
                fields = [p.strip() for p in _split_top_commas(inner)]
                return fields or None
    if toks[i] == "(":
        close = _match_close(toks, i)
        if _next_code(toks, close + 1) >= len(toks):
            inner = "".join(toks[i + 1:close])
            fields = [p.strip() for p in _split_top_commas(inner)]
            # a 1-element paren group is expression grouping, not a
            # tuple
            return fields if len(fields) >= 2 else None
    return None


def _top_order_by(body: list[str]) -> str | None:
    """The top-level ``ORDER BY`` key list of a subquery body (text up
    to the next top-level LIMIT/OFFSET/SETTINGS), or None."""
    n = len(body)
    for i in _top_level(body):
        if body[i].upper() == "ORDER":
            j = _next_code(body, i + 1)
            if j < n and body[j].upper() == "BY":
                end = next(
                    (m for m in _top_level(body, j + 1) if body[m].upper()
                     in ("LIMIT", "OFFSET", "SETTINGS")),
                    n,
                )
                keys = "".join(body[j + 1:end]).strip()
                return keys or None
    return None


def _rewrite_paste_join(toks: list[str]) -> list[str]:
    """``(q1) PASTE JOIN (q2)`` → inner join on ``row_number()`` over
    each side's own top-level ORDER BY keys (VERDICT r8 item 5).

    ClickHouse matches rows by BLOCK position, which is only
    deterministic when each side carries an explicit ORDER BY — so
    exactly that form maps (the position IS the row_number over the
    declared order), and the orderless/plain-table forms refuse
    rather than zip an arbitrary scan order.  ``JOIN ... USING``
    emits the shared position column once, left columns then right
    columns — CH's PASTE output order — and ``SELECT * EXCEPT``
    drops it; unequal lengths keep min(n) rows like CH.  Scale note:
    each row_number is a global window (one total sort per side) —
    the inherent cost of positional semantics, same as CH's own
    single-stream requirement here."""
    while True:
        pi = None
        for i, t in enumerate(toks):
            if _is_ident(t) and t.upper() == "PASTE":
                j = _next_code(toks, i + 1)
                if (
                    j < len(toks) and _is_ident(toks[j])
                    and toks[j].upper() == "JOIN"
                ):
                    pi, ji = i, j
                    break
        if pi is None:
            return toks
        need = (
            "PASTE JOIN matches rows by BLOCK position — only the "
            "deterministic form maps: both sides must be "
            "parenthesized subqueries with a top-level ORDER BY "
            "(and no alias; qualify columns inside the subqueries)"
        )
        ri = _next_code(toks, ji + 1)
        if ri >= len(toks) or toks[ri] != "(":
            raise DialectError(need)
        rclose = _match_close(toks, ri)
        ai = _next_code(toks, rclose + 1)
        if ai < len(toks) and _is_ident(toks[ai]) and (
            toks[ai].upper() not in _PASTE_NOT_ALIAS
        ):
            raise DialectError(need)
        lclose = _prev_code(toks, pi - 1)
        if lclose < 0 or toks[lclose] != ")":
            raise DialectError(need)
        lopen = _match_open(toks, lclose)
        l_body = toks[lopen + 1:lclose]
        r_body = toks[ri + 1:rclose]
        lo, ro = _top_order_by(l_body), _top_order_by(r_body)
        if lo is None or ro is None:
            raise DialectError(need)
        # a bare integer key (ORDER BY 1) is POSITIONAL in the
        # subquery but a CONSTANT literal inside the copied
        # row_number() OVER (ORDER BY …) — the zip would be silently
        # nondeterministic (ADVICE r9): refuse, spell the column
        for keys in (lo, ro):
            for part in _split_top_commas(keys):
                head = part.strip().split()[0] if part.strip() else ""
                if re.fullmatch(r"\d+", head):
                    raise DialectError(
                        "PASTE JOIN: a positional ORDER BY key "
                        f"(ORDER BY {head}) is positional in the "
                        "subquery but a constant inside the copied "
                        "row_number() window — spell the column name"
                    )
        l_sql, r_sql = "".join(l_body), "".join(r_body)
        repl = (
            f"(SELECT * EXCEPT (__paste_n) FROM "
            f"{_paste_ranked_side(l_sql, lo)} "
            f"JOIN {_paste_ranked_side(r_sql, ro)} "
            f"USING (__paste_n))"
        )
        toks[lopen:rclose + 1] = _tokens(repl)


def _range_bucket_sql(
    val: str, nb: int, lo: str, wd: str,
) -> tuple[str, str]:
    """``(bucket_expr, nan_safe_key)`` for range-bucketing ``val``
    into ``nb`` fixed-width buckets against stats columns ``lo``
    (range min) / ``wd`` (bucket width) — the two-pass
    range-partition scheme shared by the PASTE JOIN rank
    (:func:`_paste_ranked_side`) and the no-equi ANY JOIN running
    min (:func:`_any_noeq_derived`).

    The bucket key is typed through a foldable ``typeof`` dispatch
    (code-review r11): numeric/decimal keys bucket on their value,
    date/timestamp keys on their epoch number, EVERYTHING ELSE —
    including strings, whose lexicographic order disagrees with a
    numeric cast ('5' > '10') — lands in bucket 0, i.e. exactly the
    single-partition plan, never a wrong order.  The value routes
    through a STRING cast first so no key type can fail analysis
    (try_cast(DATE AS DOUBLE) is an analysis-time error).

    NaN routes to the TOP bucket (ADVICE r11): ORDER BY sorts NaN
    after every double, but floor((NaN-lo)/wd) casts to NULL and
    the coalesce would park it in bucket 0 — breaking the
    bucket-order/value-order agreement.  The stats side must see
    NaN as NULL (``nan_safe_key``), else one NaN poisons max() and
    the width.  Bucketing is a MONOTONE map of the value, so equal
    values always share a bucket and out-of-range values clamp to
    the edge buckets — order-consistency, not exact ranges, is the
    contract."""
    k = (
        f"(CASE WHEN typeof({val}) IN ('tinyint', 'smallint', "
        "'int', 'bigint', 'float', 'double') OR "
        f"typeof({val}) LIKE 'decimal%' "
        f"THEN try_cast(try_cast(({val}) AS STRING) AS DOUBLE) "
        f"WHEN typeof({val}) = 'date' THEN CAST(unix_date("
        f"try_cast(try_cast(({val}) AS STRING) AS DATE)) AS DOUBLE) "
        f"WHEN typeof({val}) = 'timestamp' THEN CAST(try_cast("
        f"try_cast(({val}) AS STRING) AS TIMESTAMP) AS DOUBLE) "
        "ELSE CAST(NULL AS DOUBLE) END)"
    )
    # clamp in DOUBLE, then cast: a value far outside the stats
    # range (the ANY JOIN probe side is bucketed against right-side
    # stats) would overflow an INT cast under ANSI before a
    # post-cast clamp could save it
    bucket = (
        f"CASE WHEN isnan(coalesce({k}, 0d)) THEN {nb - 1} ELSE "
        f"coalesce(CAST(LEAST(CAST({nb - 1} AS DOUBLE), GREATEST("
        f"0d, floor(({k} - {lo}) / {wd}))) AS INT), 0) END"
    )
    return bucket, f"nanvl({k}, CAST(NULL AS DOUBLE))"


def _paste_ranked_side(side_sql: str, order_keys: str) -> str:
    """One PASTE JOIN side with its global position column.

    Default (r9): ``row_number() OVER (ORDER BY keys)`` — a global
    window, one total sort on a single partition.  When the FIRST
    order key is direction-less (no ASC/DESC/NULLS modifier), the
    rank is RANGE-PARTITIONED instead (VERDICT r10 stretch item 9,
    the pipeline.py prefix-sum pattern spelled in pure SQL):

    1. bucket rows by fixed-width ranges of ``try_cast(key AS
       DOUBLE)`` (min/max from a broadcast one-row stats subquery;
       non-numeric or NULL keys coalesce into bucket 0, which for an
       all-string key degrades to exactly the old single-partition
       plan — never a wrong rank);
    2. ``row_number()`` WITHIN each bucket (parallel windows);
    3. add each bucket's exclusive prefix count (a ≤64-row metadata
       window, not a data-scale sort).

    Value-bucketing keeps ties inside one bucket, so the result
    equals the global form row-for-row.  The side subquery is spelled
    FOUR times (rows + offsets, each with its stats scan) — parallel
    scans beat one single-partition total sort at any real scale, and
    Spark's exchange reuse collapses duplicates when it can; because
    the scans must agree row-for-row, a side whose row SET is not a
    pure function of its text (a top-level LIMIT — tie-cutting is
    arbitrary — or a rand()/uuid() call) keeps the single-scan global
    form (code-review r11).

    The bucket key is typed through a foldable ``typeof`` dispatch
    (code-review r11): numeric/decimal keys bucket on their value,
    date/timestamp keys on their epoch number, EVERYTHING ELSE —
    including strings, whose lexicographic order disagrees with a
    numeric cast ('5' > '10') — lands in bucket 0, i.e. exactly the
    old single-partition plan, never a wrong rank.  The value is
    routed through a STRING cast first so no key type can fail
    analysis (try_cast(DATE AS DOUBLE) is an analysis-time error)."""
    global_form = (
        f"(SELECT *, row_number() OVER (ORDER BY {order_keys}) "
        f"AS __paste_n FROM ({side_sql}))"
    )
    first = _split_top_commas(order_keys)[0].strip()
    f_toks = [t for t in _tokens(first) if not _is_skippable(t)]
    if any(
        _is_ident(t) and t.upper() in ("ASC", "DESC", "NULLS")
        for t in f_toks
    ):
        return global_form
    s_toks = _tokens(side_sql)
    if any(
        t in ("rand", "randn", "uuid", "shuffle", "generateUUIDv4",
              "generateUUIDv7", "generateSnowflakeID", "randCanonical")
        for t in s_toks
    ) or any(s_toks[k].upper() == "LIMIT" for k in _top_level(s_toks)):
        return global_form
    nb = 64
    bucket, knn = _range_bucket_sql(first, nb, "__plo", "__pwd")
    stats = (
        f"(SELECT min({knn}) AS __plo, "
        f"GREATEST((max({knn}) - min({knn})) / {nb}, 1e-9d) AS __pwd "
        f"FROM ({side_sql}))"
    )
    bucketed = (
        f"(SELECT *, {bucket} AS __pb FROM ({side_sql}) "
        f"CROSS JOIN {stats})"
    )
    offsets = (
        f"(SELECT __pb AS __pb2, coalesce(sum(__pn) OVER "
        "(ORDER BY __pb ROWS BETWEEN UNBOUNDED PRECEDING AND "
        "1 PRECEDING), CAST(0 AS BIGINT)) AS __poff "
        f"FROM (SELECT __pb, count(*) AS __pn FROM {bucketed} "
        "GROUP BY __pb))"
    )
    return (
        f"(SELECT * EXCEPT (__pb, __plo, __pwd, __pb2, __poff, "
        "__pn_in), __poff + __pn_in AS __paste_n "
        "FROM (SELECT *, row_number() OVER (PARTITION BY "
        f"__pb ORDER BY {order_keys}) AS __pn_in FROM {bucketed}) "
        f"JOIN {offsets} ON __pb = __pb2)"
    )


#: the exact-weighted quantile aggregate family (statement re-plan
#: below + the expression-position collect fold in
#: :func:`_weighted_exact_quantile`)
_QW_FAMILY = (
    "quantileExactWeighted", "quantilesExactWeighted",
    "medianExactWeighted",
)


def _norm_expr(text: str) -> str:
    """Whitespace/comment-insensitive normal form for structural
    expression matching (idents uppercased — SQL keyword/function
    case folds; quoted strings stay verbatim)."""
    return " ".join(
        t.upper() if _is_ident(t) else t
        for t in _tokens(text)
        if not _is_skippable(t)
    )


#: two-char operators the single-char tokenizer splits — re-joined
#: without the space (code-review r15a: ' '.join emitted '> =')
_QW_COMPOUNDS = frozenset((
    (">", "="), ("<", "="), ("!", "="), ("<", ">"), ("|", "|"),
    (":", ":"), ("=", "="),  # CH's == equality alias (r15b)
    ("-", ">"),  # lambda arrow (r17: group-array tier residuals
    #              carry arrayMap lambdas through _join_code_tokens)
))


def _join_code_tokens(ts: list[str]) -> str:
    """Re-join code tokens into VALID SQL text: no space around '.'
    (dot-leading decimals ``.5``, qualified names ``t.x``) and none
    inside split two-char operators (code-review r15a: a plain
    ``' '.join`` emitted ``'. 5'`` and ``'> ='``, both parse
    errors)."""
    out: list[str] = []
    for n, t in enumerate(ts):
        if out and not (
            t == "." or ts[n - 1] == "."
            or (ts[n - 1], t) in _QW_COMPOUNDS
        ):
            out.append(" ")
        out.append(t)
    return "".join(out)


# ---------------------------------------------------------------------
# Statement re-plans.  Four re-plans give a ClickHouse group aggregate
# bounded state when the transpiler owns its whole flat grouped SELECT:
# exact-weighted quantiles (_qw_replan), interval sweeps (_iv_replan),
# group-array tiers (_ga_replan) and bounded groupConcat (_gc_replan).
# They share one scan/replace loop (_rewrite_owned), one select-item parser
# (_select_item) and one group-key / ORDER BY rule (_own_group_keys);
# each keeps only its SQL emission and its own preconditions.
# ---------------------------------------------------------------------

#: SQL infix/structural keywords that can precede a trailing
#: identifier WITHOUT making it a bare alias (the bare-alias
#: heuristic must not read `v MOD k` as alias 'k')
_SQL_INFIX_KEYWORDS = frozenset(
    "AS AND OR NOT IS IN MOD DIV LIKE ILIKE RLIKE REGEXP BETWEEN "
    "XOR OVER THEN ELSE WHEN CASE END INTERVAL DISTINCT ALL ANY "
    "SOME EXISTS ASC DESC FROM ESCAPE COLLATE".split()
)


def _select_item(item: str):
    """Parse one select-list item into ``(code_tokens, alias, key)``.

    ``alias`` is an explicit ``AS name`` or ClickHouse's bare ``expr
    name`` form: a trailing identifier after ``)``, ``]``, a literal
    or a non-keyword identifier (infix keywords such as ``MOD`` end
    no expression).  ``key`` is the item as a projected group key,
    ``(expr, output name)``: an aliased expression, a column, or a
    dotted column (output name: its last component); None for an
    unaliased expression, whose ClickHouse auto-name is its call
    text, which Spark can't reproduce.  Text re-joins through
    :func:`_join_code_tokens`."""
    ts = [t for t in _tokens(item) if not _is_skippable(t)]
    alias = None
    if len(ts) >= 3 and ts[-2].upper() == "AS" and _is_ident(ts[-1]):
        alias, ts = ts[-1], ts[:-2]
    elif (
        len(ts) >= 2 and _is_ident(ts[-1]) and ts[-1].upper() != "END"
        and ts[-2] != "."
        and (
            ts[-2] in (")", "]")
            or (_is_ident(ts[-2])
                and ts[-2].upper() not in _SQL_INFIX_KEYWORDS)
            or re.fullmatch(r"[\d.']+.*", ts[-2])
        )
    ):
        alias, ts = ts[-1], ts[:-1]
    if alias is not None:
        return ts, alias, (_join_code_tokens(ts), alias)
    if len(ts) % 2 and all(
        _is_ident(t) if n % 2 == 0 else t == "." for n, t in enumerate(ts)
    ):
        return ts, None, (_join_code_tokens(ts), ts[-1])
    return ts, None, None


def _call_groups(ts: list[str], n: int):
    """Argument groups of the call headed by token ``n``: ``(end,
    groups)`` for ``f(a, …)`` or the parametric ``f(p, …)(a, …)``,
    each group split at top-level commas, ``end`` one past the last
    ``)``; None when no ``(`` follows the head.  Whitespace and
    comments are skipped, so raw and code-only token lists both
    work."""
    groups: list[list[str]] = []
    end = j = _next_code(ts, n + 1)
    while len(groups) < 2 and j < len(ts) and ts[j] == "(":
        c = _match_close(ts, j)
        code = [t for t in ts[j + 1:c] if not _is_skippable(t)]
        groups.append([
            a.strip() for a in _split_top_commas(_join_code_tokens(code))
        ])
        end, j = c + 1, _next_code(ts, c + 1)
    return (end, groups) if groups else None


def _extract_calls(ts: list[str], family, parse):
    """Replace each ``family`` call in code tokens ``ts`` by its index
    (an int, so it can't collide with a source token).  Returns
    ``(template, specs)`` with one ``parse(name, groups)`` per call,
    or None when a call doesn't parse."""
    out: list = []
    specs: list = []
    i = 0
    while i < len(ts):
        cg = _call_groups(ts, i) if ts[i] in family else None
        if cg is None:
            out.append(ts[i])
            i += 1
            continue
        spec = parse(ts[i], cg[1])
        if spec is None:
            return None
        out.append(len(specs))
        specs.append(spec)
        i = cg[0]
    return out, specs


def _select_calls(sel_text: str, family, parse):
    """Split a re-planned statement's select list into ``(key,
    outname, template, specs)`` per item: a projected key (see
    :func:`_select_item`) carries no ``family`` call (``template``
    None); an aggregate item carries calls (``key`` None) and needs an
    alias.  None when an item is neither."""
    out = []
    for it in _split_top_commas(sel_text):
        ts, alias, key = _select_item(it)
        ext = _extract_calls(ts, family, parse)
        if ext is None:
            return None
        if ext[1] and alias is not None:
            out.append((None, alias, *ext))
        elif not ext[1] and key is not None:
            out.append((*key, None, None))
        else:
            return None
    return out


def _group_items(group_text: str, keys: list):
    """GROUP BY items, each ordinal resolved to the projected key it
    names (``keys``: one expression per select item, None for an
    aggregate); None for GROUP BY ALL/GROUPING SETS/ROLLUP/CUBE or an
    ordinal naming no projected key."""
    if not group_text:
        return []
    if _norm_expr(group_text).split(" ")[0] in (
        "ALL", "GROUPING", "ROLLUP", "CUBE",
    ):
        return None
    out = []
    for g in _split_top_commas(group_text):
        g = g.strip()
        if re.fullmatch(r"\d+", g):
            n = int(g)
            if not 1 <= n <= len(keys) or keys[n - 1] is None:
                return None
            g = keys[n - 1]
        out.append(g)
    return out


def _own_group_keys(spans: dict, items: list):
    """The group-key / ORDER BY rule every statement re-plan shares.

    ``items`` are :func:`_select_calls` tuples.  GROUP BY items (see
    :func:`_group_items`) dedupe into the inner key list ``gexprs``.
    Each projected key takes the slot of the group item equal to its
    expression or — GROUP BY naming its alias — of that alias, whose
    expression then replaces it in ``gexprs`` (the alias doesn't
    exist in the inner scope).  Returns ``(gexprs,
    slots, seen)``: a slot per item (None for aggregates) and the
    normalized group item → slot map.  None when the statement isn't
    ownable: a refused GROUP BY, projected keys without GROUP BY or
    without a matching group item, or an ORDER BY naming anything but
    an output column (it runs on the outer projection)."""
    keys = [it[0] for it in items]
    gitems = _group_items(spans.get("group", ""), keys)
    if gitems is None or (
        not gitems and any(k is not None for k in keys)
    ):
        return None
    gexprs: list[str] = []
    seen: dict[str, int] = {}
    for g in gitems:
        ng = _norm_expr(g)
        if ng not in seen:
            seen[ng] = len(gexprs)
            gexprs.append(g)
    slots = []
    for key, out, _, _ in items:
        slot = None
        if key is not None:
            slot = seen.get(_norm_expr(key))
            if slot is None:
                slot = seen.get(_norm_expr(out))
                if slot is None:
                    return None
                gexprs[slot] = key
        slots.append(slot)
    outnames = {it[1] for it in items}
    for t in _tokens(spans.get("order", "")):
        if _is_ident(t) and t not in outnames and t.upper() not in (
            "ASC", "DESC", "NULLS", "FIRST", "LAST",
        ):
            return None
    return gexprs, slots, seen


#: scalar heads allowed AROUND a re-planned aggregate call in an
#: expression-position select item (weighted quantiles, group-array
#: tiers): the residual runs on the OUTER
#: projection, where an aggregate head (sum, avg, …) would silently
#: aggregate the re-plan's rows — so only these scalar wrappers (plus
#: the CH ``to*`` cast family by shape) qualify; anything else keeps
#: the expression-position fold
_QW_RESIDUAL_HEADS = frozenset((
    "ROUND", "FLOOR", "CEIL", "CEILING", "ABS", "SQRT", "EXP", "LN",
    "LOG", "LOG2", "LOG10", "POWER", "POW", "CAST", "TRY_CAST",
    "COALESCE", "NULLIF", "GREATEST", "LEAST", "IF", "IFNULL",
    "NVL", "SIGN", "ARRAY", "ELEMENT_AT", "CONCAT", "INTDIV",
    "MODULO", "PLUS", "MINUS", "MULTIPLY", "DIVIDE",
    "ARRAYMAP", "ARRAYSTRINGCONCAT", "ARRAYSORT", "LENGTH",
))

#: non-head identifier tokens legal in a residual (operators /
#: literals are not identifiers and pass untouched)
_QW_RESIDUAL_WORDS = frozenset((
    "CASE", "WHEN", "THEN", "ELSE", "END", "AND", "OR", "NOT", "IS",
    "NULL", "TRUE", "FALSE", "IN", "BETWEEN", "AS", "DOUBLE",
    "FLOAT", "INT", "BIGINT", "DECIMAL", "STRING",
))


def _residual(template: list, holes: list[str], seen: dict, key_ref):
    """Outer-projection SQL of an expression-position aggregate item:
    ``template`` from :func:`_extract_calls`, call ``i`` emitted as
    ``holes[i]``.  A call head must be in :data:`_QW_RESIDUAL_HEADS`
    or a CH ``to*`` cast, and a bare identifier a residual word, a
    lambda parameter, or a group key (emitted as ``key_ref(slot)``);
    anything else (an aggregate head, a foreign column) returns None
    — it can't run on the outer projection."""
    lam: set[str] = set()
    for m in range(1, len(template) - 1):
        if template[m] == "-" and template[m + 1] == ">":
            lo = m - 1
            if template[lo] == ")":
                lo = _match_open(template, lo)
            lam.update(
                t for t in template[lo:m]
                if isinstance(t, str) and _is_ident(t)
            )
    parts = []
    for m, t in enumerate(template):
        nxt = template[m + 1] if m + 1 < len(template) else ""
        if isinstance(t, int):
            parts.append(holes[t])
        elif (
            not _is_ident(t) or t in lam
            or t.upper() in _QW_RESIDUAL_WORDS
        ):
            parts.append(t)
        elif nxt == "(":
            if not (
                t.upper() in _QW_RESIDUAL_HEADS
                or re.fullmatch(r"to[A-Z]\w*", t)
            ):
                return None
            parts.append(t)
        elif _norm_expr(t) in seen:
            parts.append(key_ref(seen[_norm_expr(t)]))
        else:
            return None
    return _join_code_tokens(parts)


def _select_clause_spans(toks: list[str], s: int, e: int):
    """Clause texts of a FLAT SELECT segment — the shared parse of
    the statement-level re-plans.  Returns ``{"select", "from"[,
    "where"][, "group"][, "order"][, "limit"]}`` (limit keeps its
    LIMIT keyword), or None when the segment contains a construct the
    re-plans don't own: DISTINCT, HAVING/QUALIFY/WINDOW/SETTINGS/
    PREWHERE, set ops, WITH (scalars/FILL/TOTALS arrive spelled
    WITH), OVER, INTERPOLATE, FORMAT, a missing FROM, duplicated or
    out-of-order clauses."""
    i = _next_code(toks, s)
    if i >= e or not _is_ident(toks[i]) or toks[i].upper() != "SELECT":
        return None
    j = _next_code(toks, i + 1)
    if j < e and _is_ident(toks[j]) and toks[j].upper() in (
        "DISTINCT", "ALL",
    ):
        return None
    clause: dict[str, int] = {}
    for idx in _top_level(toks, i + 1, e):
        if _is_ident(toks[idx]):
            u = toks[idx].upper()
            if u in (
                "HAVING", "QUALIFY", "SETTINGS", "WINDOW", "PREWHERE",
                "UNION", "EXCEPT", "INTERSECT", "FORMAT", "WITH",
                "OVER", "TOTALS", "INTERPOLATE",
            ):
                return None
            if u in ("FROM", "WHERE", "LIMIT"):
                if u in clause:
                    return None
                clause[u] = idx
            elif u in ("GROUP", "ORDER"):
                nx = _next_code(toks, idx + 1)
                if nx < e and toks[nx].upper() == "BY":
                    if u in clause:
                        return None
                    clause[u] = idx
    if "FROM" not in clause:
        return None
    order = [k for k in ("FROM", "WHERE", "GROUP", "ORDER", "LIMIT")
             if k in clause]
    pos_list = [clause[k] for k in order]
    if pos_list != sorted(pos_list):
        return None
    bounds = pos_list + [e]

    def span(kw: str, two_word: bool = False) -> str:
        b = bounds[order.index(kw) + 1]
        st = clause[kw] + 1
        if two_word:  # GROUP BY / ORDER BY: hop over the BY token
            st = _next_code(toks, st) + 1
        return "".join(toks[st:b]).strip()

    out = {
        "select": "".join(toks[i + 1: clause["FROM"]]).strip(),
        "from": span("FROM"),
    }
    if "WHERE" in clause:
        out["where"] = span("WHERE")
    if "GROUP" in clause:
        out["group"] = span("GROUP", True)
    if "ORDER" in clause:
        out["order"] = span("ORDER", True)
    if "LIMIT" in clause:
        out["limit"] = "".join(toks[clause["LIMIT"]: e]).strip()
    return out


def _owning_select_segment(
    toks: list[str], hit: int
) -> tuple[int, int]:
    """The innermost parenthesized ``(SELECT …)`` segment containing
    token ``hit``, else the whole statement — the ownership unit of
    the statement-level re-plans."""
    stack: list[int] = []
    for n in range(hit):
        if toks[n] == "(":
            stack.append(n)
        elif toks[n] == ")":
            if stack:
                stack.pop()
    for open_i in reversed(stack):
        fc = _next_code(toks, open_i + 1)
        if (
            fc < len(toks) and _is_ident(toks[fc])
            and toks[fc].upper() == "SELECT"
        ):
            return (open_i + 1, _match_close(toks, open_i))
    return (0, len(toks))


def _rewrite_owned(toks: list[str], hit, replan) -> list[str]:
    """The scan/replace loop of the statement re-plans: for each token ``n``
    where ``hit(toks, n)`` holds, attempt ``replan(toks, s, e)`` on
    its owning SELECT segment and splice the returned SQL in; a
    segment the re-plan declines (None) keeps its tokens for the
    expression-position renderers."""
    scan = 0
    while True:
        n = next((n for n in range(scan, len(toks)) if hit(toks, n)), None)
        if n is None:
            return toks
        s, e = _owning_select_segment(toks, n)
        repl = replan(toks, s, e)
        if repl is None:
            scan = n + 1
            continue
        toks[s:e] = _tokens(" " + repl + " ")
        scan = 0


def _qw_parse_call(name: str, groups: list[list[str]]):
    """Parse one weighted-quantile call's argument groups into
    ``(levels, is_array, v, w)``, or None when the call doesn't fit
    the ownable shape (non-literal levels, wrong arity)."""
    if len(groups) == 1:
        # quantileExactWeighted(v, w) / medianExactWeighted(v, w):
        # default level 0.5 (quantiles* REQUIRES levels)
        if name == "quantilesExactWeighted" or len(groups[0]) != 2:
            return None
        return (["0.5"], False, *groups[0])
    params, args = groups
    if len(args) != 2 or not params:
        return None
    if name == "medianExactWeighted":
        return None  # median takes no level parameter
    if name == "quantileExactWeighted" and len(params) != 1:
        return None  # exactly one level (the renderer refuses too)
    if not all(
        re.fullmatch(r"\d+(\.\d+)?([eE]-?\d+)?", p) for p in params
    ):
        return None  # non-literal levels stay on the collect path
    return (params, name == "quantilesExactWeighted", *args)


def _qw_replan(toks: list[str], s: int, e: int):
    """The value-compressed two-pass plan for a SELECT segment whose
    aggregates are all exact-weighted quantiles.

    ClickHouse's quantileExactWeighted state is a (value → Σweight)
    hash map — O(distinct values), not O(rows).  The collect fold in
    :func:`_weighted_exact_quantile` is O(rows per group), a
    100×-scale hazard.  When the transpiler owns the
    whole statement it re-plans to the same shape CH (and the DuckDB
    oracle) uses:

    1. pre-aggregate ``GROUP BY (keys, value)`` → Σweight — map-side
       partial aggregation compresses to distinct values before any
       shuffle;
    2. cumulative-weight window over the ≤distinct-values rows
       (partitioned by the group keys, ordered by value) plus its
       partition max (== total weight: weights are non-negative);
    3. per level p: ``MIN(value WHERE cumw >= p·total)`` — CH's
       non-interpolating smallest-value-reaching-threshold rule.

    NULL contract (matches the collect fold): a (v, w) pair with
    either side NULL is skipped — the pre-agg masks its weight out of
    the CASE sum, and the final MIN requires a non-NULL Σweight so a
    value carried only by masked pairs can never be picked.  A group
    with no valid pairs yields NULL (its total is NULL, the CASE
    never fires).

    Quantile calls may also sit inside a whitelisted scalar
    expression (see :func:`_residual`).
    Returns the replacement SQL string, or None when the segment
    isn't ownable (see :func:`_own_group_keys`; only weighted-quantile
    aggregates sharing one (v, w) pair) — the expression-position
    collect fold then applies unchanged."""
    spans = _select_clause_spans(toks, s, e)
    items = spans and _select_calls(
        spans["select"], _QW_FAMILY, _qw_parse_call
    )
    if not items:
        return None
    specs = [sp for it in items if it[3] for sp in it[3]]
    if not specs or len(
        {(_norm_expr(sp[2]), _norm_expr(sp[3])) for sp in specs}
    ) != 1:
        return None  # one shared (value, weight) pair only
    v, w = specs[0][2], specs[0][3]
    own = _own_group_keys(spans, items)
    if own is None:
        return None
    gexprs, slots, seen = own
    from_text = spans["from"]
    where_text = spans.get("where", "")
    order_text = spans.get("order", "")
    limit_text = spans.get("limit", "")
    ks = ", ".join(f"__qw_k{n}" for n in range(len(gexprs)))
    part = f"PARTITION BY {ks} " if gexprs else ""
    k_sel = "".join(f"{g} AS __qw_k{n}, " for n, g in enumerate(gexprs))
    pre = (
        f"SELECT {k_sel}CAST(({v}) AS DOUBLE) AS __qw_x, "
        f"sum(CASE WHEN ({v}) IS NOT NULL AND ({w}) IS NOT NULL "
        f"THEN CAST(({w}) AS DOUBLE) END) AS __qw_wt "
        f"FROM {from_text}"
        + (f" WHERE {where_text}" if where_text else "")
        + " GROUP BY "
        + ", ".join(str(n + 1) for n in range(len(gexprs) + 1))
    )
    cum1 = (
        f"SELECT *, sum(__qw_wt) OVER ({part}ORDER BY __qw_x) "
        f"AS __qw_cw FROM ({pre}) __qw_pre"
    )
    # total = the partition-max of the cumulative sum (weights are
    # non-negative — CH's weight type is UInt), so cw == tot holds
    # EXACTLY at the last value even for fractional weights where an
    # independently-ordered re-sum could differ in the last ulp
    cum2 = (
        f"SELECT *, max(__qw_cw) OVER ({part.rstrip()}) AS __qw_tot "
        f"FROM ({cum1}) __qw_cum1"
    )

    def cell(level: str) -> str:
        return (
            f"MIN(CASE WHEN __qw_wt IS NOT NULL AND "
            f"__qw_cw >= ({level}) * __qw_tot THEN __qw_x END)"
        )

    def q_body(levels: list[str], is_arr: bool) -> str:
        cells = [cell(p) for p in levels]
        return f"array({', '.join(cells)})" if is_arr else cells[0]

    out_items = []
    for (_, out, template, calls), slot in zip(items, slots):
        if template is None:
            body = f"__qw_k{slot}"
        elif template == [0]:
            body = q_body(calls[0][0], calls[0][1])
        else:
            body = _residual(
                template, [f"({q_body(c[0], c[1])})" for c in calls],
                seen, lambda n: f"__qw_k{n}",
            )
            if body is None:
                return None
        out_items.append(f"{body} AS {out}")
    return (
        f"SELECT {', '.join(out_items)} FROM ({cum2}) __qw_cum"
        + (f" GROUP BY {ks}" if gexprs else "")
        + (f" ORDER BY {order_text}" if order_text else "")
        + (f" {limit_text}" if limit_text else "")
    )


#: the interval-sweep aggregate family (statement re-plan below +
#: the expression-position collect folds in :func:`_render_call`)
_IV_FAMILY = (
    "maxIntersections", "maxIntersectionsPosition", "intervalLengthSum",
)


def _iv_parse_call(name: str, groups: list[list[str]]):
    """``(fn, start, end)`` of a ``fn(start, end)`` interval call, or
    None."""
    if len(groups) != 1 or len(groups[0]) != 2:
        return None
    return (name, *groups[0])


def _iv_replan(toks: list[str], s: int, e: int):
    """The (value, count)-compressed two-pass plan for a SELECT
    segment whose aggregates are all interval sweeps (VERDICT r16
    item 1, guide §2.3 — aggregate before you shuffle / §5 bounded
    state).

    The expression-position folds collect one ±1 sweep point per ROW
    per group before sorting — O(rows) aggregation state, the same
    100×-scale hazard the weighted-quantile re-plan closed in r12.
    When the transpiler owns the whole flat grouped statement it
    pre-aggregates ``GROUP BY (keys, start, end)`` → COUNT, so
    map-side partial aggregation compresses the sweep input to
    distinct interval endpoints before any shuffle, and the per-group
    folds run over distinct pairs with batched ±count deltas.

    Value-identity arguments (each fold is otherwise byte-identical
    to its expression-position twin):

    * maxIntersections — the running count after a batched +c step
      equals the count after the same rows' individual +1 steps, and
      intra-batch intermediates are bounded by the batch endpoint
      (the count is monotone within a batch), so the running max is
      unchanged.  Tie order is preserved: sorting (p, ±c) structs
      still puts every negative (end) delta before every positive
      (start) delta at the same point.
    * maxIntersectionsPosition — the first batch that pushes the
      count past the running max records the same point p the first
      individual +1 of that batch would have recorded.
    * intervalLengthSum — a duplicate (s, e) pair contributes exactly
      0.0 to the union sweep (its end never exceeds the carried
      cover), so folding each distinct pair once leaves every
      partial sum bit-identical.

    Returns the replacement SQL, or None when the segment isn't the
    narrow ownable shape (see :func:`_own_group_keys`; every
    aggregate item a whole aliased interval call, one shared (s, e)
    pair)."""
    spans = _select_clause_spans(toks, s, e)
    items = spans and _select_calls(
        spans["select"], _IV_FAMILY, _iv_parse_call
    )
    if not items or any(it[2] not in (None, [0]) for it in items):
        return None
    calls = [it[3][0] for it in items if it[3]]
    if not calls or len(
        {(_norm_expr(c[1]), _norm_expr(c[2])) for c in calls}
    ) != 1:
        return None  # one shared (start, end) pair only
    sx, ex = calls[0][1], calls[0][2]
    own = _own_group_keys(spans, items)
    if own is None:
        return None
    gexprs, slots, _ = own
    k_sel = "".join(
        f"{g} AS __iv_k{n}, " for n, g in enumerate(gexprs)
    )
    pre = (
        f"SELECT {k_sel}CAST(({sx}) AS DOUBLE) AS __iv_s, "
        f"CAST(({ex}) AS DOUBLE) AS __iv_e, count(*) AS __iv_c "
        f"FROM {spans['from']}"
        + (f" WHERE {spans['where']}" if spans.get("where") else "")
        + " GROUP BY "
        + ", ".join(str(n + 1) for n in range(len(gexprs) + 2))
    )
    # batched ±count sweep points; GREATEST spelled UPPERCASE so the
    # renderer's NULL-propagating wrap skips it (the token-splice
    # convention, see _render_call greatest)
    pts = (
        "sort_array(flatten(collect_list(array("
        "named_struct('p', __iv_s, 'd', __iv_c), "
        "named_struct('p', __iv_e, 'd', -__iv_c)))))"
    )
    bodies = {
        "maxIntersections": (
            f"aggregate({pts}, "
            "named_struct('c', CAST(0 AS BIGINT), "
            "'m', CAST(0 AS BIGINT)), "
            "(__va, __vx) -> named_struct('c', __va.c + __vx.d, "
            "'m', GREATEST(__va.m, __va.c + __vx.d)), "
            "__va -> __va.m)"
        ),
        "maxIntersectionsPosition": (
            f"aggregate({pts}, "
            "named_struct('c', CAST(0 AS BIGINT), "
            "'m', CAST(0 AS BIGINT), 'pos', CAST(NULL AS DOUBLE)), "
            "(__va, __vx) -> named_struct('c', __va.c + __vx.d, "
            "'m', GREATEST(__va.m, __va.c + __vx.d), "
            "'pos', CASE WHEN __va.c + __vx.d > __va.m "
            "THEN __vx.p ELSE __va.pos END), "
            "__va -> __va.pos)"
        ),
        "intervalLengthSum": (
            "aggregate(sort_array(collect_list("
            "named_struct('s', __iv_s, 'e', __iv_e))), "
            "named_struct('t', CAST(0 AS DOUBLE), "
            "'ce', CAST(NULL AS DOUBLE)), "
            "(__va, __vx) -> named_struct("
            "'t', __va.t + GREATEST(CAST(0 AS DOUBLE), "
            "__vx.e - GREATEST(__vx.s, coalesce(__va.ce, __vx.s))), "
            "'ce', GREATEST(coalesce(__va.ce, __vx.e), __vx.e)), "
            "__va -> __va.t)"
        ),
    }
    out_items = [
        f"__iv_k{slot} AS {out}" if template is None
        else f"{bodies[c[0][0]]} AS {out}"
        for (_, out, template, c), slot in zip(items, slots)
    ]
    ks = ", ".join(f"__iv_k{n}" for n in range(len(gexprs)))
    return (
        f"SELECT {', '.join(out_items)} FROM ({pre}) __iv_pre"
        + (f" GROUP BY {ks}" if gexprs else "")
        + (f" ORDER BY {spans['order']}" if spans.get("order") else "")
        + (f" {spans['limit']}" if spans.get("limit") else "")
    )


#: the deterministic group-array tier family (statement re-plan below
#: + the expression-position collect folds in the renderer)
_GA_FAMILY = ("groupArraySample", "groupArrayLast")

#: a FROM the group-array re-plan may inline once per tier: a plain
#: table name, optionally dotted and aliased (a subquery such as
#: ``SELECT … LIMIT n`` may return different rows to each
#: tier's scan)
_GA_PLAIN_FROM = re.compile(
    r"[A-Za-z_]\w*(\s*\.\s*[A-Za-z_]\w*)*"
    r"(\s+(AS\s+)?(?!FINAL\b)[A-Za-z_]\w*)?",
    re.IGNORECASE,
)


def _ga_parse_call(name: str, groups: list[list[str]]):
    """Parse a ``groupArraySample(n[, seed])(x)`` /
    ``groupArrayLast(n)(x, ord)`` call's argument groups into
    ``(fn, n, seed_or_None, x, ord_or_None)``, or None when the call
    doesn't fit the ownable shape (non-literal or non-positive n,
    wrong arity)."""
    if len(groups) != 2:
        return None
    params, args = groups
    if not params or not re.fullmatch(r"\d+", params[0]):
        return None
    if int(params[0]) < 1:
        return None  # n <= 0: the fold's empty-slice tier owns it
    if name == "groupArraySample":
        if len(params) not in (1, 2) or len(args) != 1:
            return None
        seed = params[1] if len(params) == 2 else "0"
        if not re.fullmatch(r"\d+", seed):
            return None
        return (name, params[0], seed, args[0], None)
    if len(params) != 1 or len(args) != 2:
        return None
    return (name, params[0], None, args[0], args[1])


def _ga_replan(toks: list[str], s: int, e: int):
    """WindowGroupLimit re-plan for the deterministic group-array
    tiers (VERDICT r16 item 4, guide §2.3/§5).

    The expression-position folds collect EVERY group row before
    sorting and slicing to the top/last n — O(rows) aggregation
    state.  When the transpiler owns the flat grouped statement,
    each tier call becomes its own ranked subquery: a per-row rank
    column (``row_number() OVER (PARTITION BY keys ORDER BY …)``)
    with a ``rank <= n`` filter directly above it — the shape
    Spark's WindowGroupLimit rule rewrites into Partial (below the
    exchange, ≤n rows per group per map partition) / Final group
    limits — and only the surviving ≤n rows per group are collected.
    Subqueries join back null-safely on the group keys (every group
    survives: n ≥ 1 and each group has ≥1 row, so rank 1 passes).
    Each tier scans the FROM again, so only a plain table name is
    owned (:data:`_GA_PLAIN_FROM`); a select item holds one tier
    call, optionally inside a scalar residual (:func:`_residual`).

    Value identity: the rank order is the collected structs' own
    sort order (sample: (h, x) asc; last: (o, x) desc), equal structs
    are indistinguishable, and the ≤n survivors are re-sorted with
    the same struct sort before projection — so the emitted arrays
    are element-identical to sort-then-slice over the full group.
    groupArraySample additionally filters NULL elements in the inner
    scan, matching collect_list's null drop in the fold."""
    spans = _select_clause_spans(toks, s, e)
    if (
        spans is None or not spans.get("group")
        or not _GA_PLAIN_FROM.fullmatch(spans["from"])
    ):
        return None
    items = _select_calls(spans["select"], _GA_FAMILY, _ga_parse_call)
    if not items or any(it[3] and len(it[3]) != 1 for it in items):
        return None
    calls = [it[3][0] for it in items if it[3]]
    own = calls and _own_group_keys(spans, items)
    if not own:
        return None
    gexprs, slots, seen = own
    from clickhouse_vs_dbt_spark.operators.dedup import md5p_sql

    ks = ", ".join(f"__ga_k{n}" for n in range(len(gexprs)))
    k_sel = "".join(
        f"{g} AS __ga_k{n}, " for n, g in enumerate(gexprs)
    )
    where = (
        f" WHERE {spans['where']}" if spans.get("where") else ""
    )
    subs = []
    for i, (fn, n, seed, x, ordc) in enumerate(calls):
        if fn == "groupArraySample":
            h = md5p_sql(
                f"concat(CAST(({x}) AS STRING), ':', "
                f"CAST({seed} AS STRING))",
                "spark",
            )
            # NULL elements must neither be sampled nor drop their
            # GROUP: rows stay in the scan (an inner WHERE filter
            # would lose all-NULL groups the fold path emits with an
            # empty array — review r17a), NULL x ranks after every
            # real element (the leading null key; h is NULL exactly
            # when x is), and the collect's CASE drops them — a
            # short group yields its non-null elements, an all-NULL
            # group yields [].
            inner1 = (
                f"SELECT {k_sel}({x}) AS __ga_x, {h} AS __ga_h "
                f"FROM {spans['from']}{where}"
            )
            order = "(__ga_x IS NULL), __ga_h, __ga_x"
            st = (
                "CASE WHEN __ga_x IS NULL THEN NULL "
                "ELSE named_struct('h', __ga_h, 'x', __ga_x) END"
            )
        else:
            inner1 = (
                f"SELECT {k_sel}({x}) AS __ga_x, ({ordc}) AS __ga_o "
                f"FROM {spans['from']}{where}"
            )
            order = "__ga_o DESC, __ga_x DESC"
            st = "named_struct('o', __ga_o, 'x', __ga_x)"
        inner2 = (
            f"SELECT *, row_number() OVER (PARTITION BY {ks} "
            f"ORDER BY {order}) AS __ga_rn "
            f"FROM ({inner1}) __ga_i{i}"
        )
        subs.append(
            f"(SELECT {ks}, transform(sort_array(collect_list({st}))"
            f", __gp -> __gp.x) AS __ga_r{i} "
            f"FROM ({inner2}) __ga_w{i} WHERE __ga_rn <= {n} "
            f"GROUP BY {ks}) __ga_t{i}"
        )
    join = subs[0]
    for i in range(1, len(subs)):
        on = " AND ".join(
            f"__ga_t0.__ga_k{n} <=> __ga_t{i}.__ga_k{n}"
            for n in range(len(gexprs))
        )
        join += f" JOIN {subs[i]} ON {on}"
    out_items = []
    i = 0
    for (_, out, template, _), slot in zip(items, slots):
        if template is None:
            out_items.append(f"__ga_t0.__ga_k{slot} AS {out}")
            continue
        # group-key references are QUALIFIED: the outer FROM joins
        # one __ga_t{i} per tier and every side exposes __ga_k{n}, so
        # a bare reference is AMBIGUOUS with ≥2 tiers
        body = _residual(
            template, [f"__ga_t{i}.__ga_r{i}"], seen,
            lambda n: f"__ga_t0.__ga_k{n}",
        )
        if body is None:
            return None
        out_items.append(f"{body} AS {out}")
        i += 1
    return (
        f"SELECT {', '.join(out_items)} FROM {join}"
        + (f" ORDER BY {spans['order']}" if spans.get("order") else "")
        + (f" {spans['limit']}" if spans.get("limit") else "")
    )


def _gc_call(ts: list[str], n: int):
    """:func:`_call_groups` of a parametric ``groupConcat(sep,
    limit)(…)`` call headed by token ``n``, else None — the calls the
    bounded groupConcat re-plan owns."""
    if ts[n] != "groupConcat":
        return None
    cg = _call_groups(ts, n)
    return cg if cg and len(cg[1]) == 2 and len(cg[1][0]) == 2 else None


def _gc_parse_call(name: str, groups: list[list[str]]):
    """``(sep, limit, x)`` of an ownable ``groupConcat(sep, limit)(x)``
    — a literal limit ≥ 1 and one operand — else None (a dynamic
    limit keeps the slice form)."""
    if len(groups) != 2 or len(groups[0]) != 2 or len(groups[1]) != 1:
        return None
    sep, lim = groups[0]
    if not re.fullmatch(r"\d+", lim) or int(lim) < 1:
        return None
    return (sep, lim, groups[1][0])


def _gc_replan_joined(spans: dict):
    """Join-owned bounded groupConcat: the
    single-relation form's ``SELECT *`` wrap would strip the join's
    relation aliases, so this narrower form PROJECTS the group keys
    and concat operands through an explicit inner select over the
    verbatim from_text — the :func:`_qw_replan` precedent: qualified
    refs resolve in the inner scope where the join aliases still
    exist, and everything downstream (rank windows, masked collects,
    the final GROUP BY) runs on ``__gc_k*``/``__gc_x*`` aliases.
    Ownable shape: :func:`_own_group_keys`, every aggregate item a
    whole ``groupConcat(sep, lim)(x) AS alias`` call and no
    groupConcat in GROUP BY; mixed aggregates and set-semantics joins
    (ASOF/ANY/PASTE/ARRAY/LATERAL, pre-screened by the caller) keep
    the O(group) slice form."""
    if "groupConcat" in _tokens(spans.get("group", "")):
        return None
    items = _select_calls(
        spans["select"], ("groupConcat",), _gc_parse_call
    )
    if not items or any(it[2] not in (None, [0]) for it in items):
        return None
    own = _own_group_keys(spans, items)
    if own is None:
        return None
    gexprs, slots, _ = own
    where_text = spans.get("where", "")
    order_text = spans.get("order", "")
    limit_text = spans.get("limit", "")
    xs: list[str] = []
    x_slot: dict[str, int] = {}
    for it in items:
        if it[3]:
            nx = _norm_expr(it[3][0][2])
            if nx not in x_slot:
                x_slot[nx] = len(xs)
                xs.append(it[3][0][2])
    if not xs:
        return None
    ks = ", ".join(f"__gc_k{n}" for n in range(len(gexprs)))
    part = f"PARTITION BY {ks} " if gexprs else ""
    k_sel = "".join(
        f"{g} AS __gc_k{n}, " for n, g in enumerate(gexprs)
    )
    x_sel = "".join(
        f"({x}) AS __gc_x{i}, " for i, x in enumerate(xs)
    )
    inner1 = (
        f"SELECT {k_sel}{x_sel}"
        "monotonically_increasing_id() AS __gc_ord "
        f"FROM {spans['from']}"
        + (f" WHERE {where_text}" if where_text else "")
    )
    rn_cols = ", ".join(
        f"row_number() OVER ({part}ORDER BY (__gc_x{i} IS NULL), "
        f"__gc_ord) AS __gc_rn{i}"
        for i in range(len(xs))
    )
    inner2 = f"SELECT *, {rn_cols} FROM ({inner1}) __gc_j1"
    out_items = []
    for (_, out, template, calls), slot in zip(items, slots):
        if template is None:
            out_items.append(f"__gc_k{slot} AS {out}")
        else:
            sep, lim, x = calls[0]
            i = x_slot[_norm_expr(x)]
            out_items.append(
                f"array_join(collect_list(CASE WHEN __gc_rn{i} <= "
                f"{lim} THEN __gc_x{i} END), {sep}) AS {out}"
            )
    return (
        f"SELECT {', '.join(out_items)} FROM ({inner2}) __gc_j2"
        + (f" GROUP BY {ks}" if gexprs else "")
        + (f" ORDER BY {order_text}" if order_text else "")
        + (f" {limit_text}" if limit_text else "")
    )


def _gc_replan(toks: list[str], s: int, e: int):
    """Statement-owned bounded form of ``groupConcat(sep, limit)(x)``
    The expression renderer's
    ``slice(collect_list(x), 1, limit)`` collects the WHOLE group
    before truncating — O(group) state.  When the owning SELECT is a
    flat grouped query, a per-group ``row_number`` pre-rank masks
    every row past ``limit`` to NULL *before* collection
    (``collect_list`` drops NULLs), so the aggregate state is bounded
    by ``limit`` regardless of group size.  The rank orders non-NULL
    values first (CH skips NULLs without consuming the limit) and
    ties break on a read-order id, preserving the renderer's
    partition-order contract (CH's own order is unspecified).  One
    extra window shuffle on the group keys, which the following
    GROUP BY reuses.  Plain joined FROMs route to the projecting
    :func:`_gc_replan_joined` form; segments neither form owns
    (SELECT *, dynamic limits, mixed aggregates over joins,
    ASOF/ANY/PASTE/ARRAY/LATERAL) return None and keep the slice
    form."""
    spans = _select_clause_spans(toks, s, e)
    if spans is None:
        return None
    if any(
        _is_ident(t) and t.startswith("__gc_")
        for t in toks[s:e]
    ):
        # the wrap injects __gc_ord/__gc_rn* helper columns via
        # SELECT *; a source column sharing the prefix would collide
        # as a duplicate/ambiguous name, so keep the slice form
        # (mirrors the ANY-join __any_* rcols guard)
        return None
    sel_text = spans["select"]
    from_text = spans["from"]
    where_text = spans.get("where", "")
    group_text = spans.get("group", "")
    order_text = spans.get("order", "")
    limit_text = spans.get("limit", "")
    # a depth-0 JOIN/comma would lose its aliases behind the
    # SELECT-* wrap — route plain joins to the projecting form;
    # ASOF/ANY/PASTE/ARRAY/LATERAL keep the
    # slice form (their rewrites own the statement shape)
    fcode = [t for t in _tokens(from_text) if not _is_skippable(t)]
    top = {fcode[k].upper() for k in _top_level(fcode)}
    if top & {"LATERAL", "ARRAY", "PASTE", "ASOF", "ANY"}:
        return None
    if top & {",", "JOIN"}:
        return _gc_replan_joined(spans)
    acode = fcode[:-1] if fcode and fcode[-1].upper() == "FINAL" \
        else fcode
    if not acode:
        return None
    if acode[-1] == ")":
        alias = "__gc_src"  # unaliased subquery: nothing can qualify
    elif _is_ident(acode[-1]):
        alias = acode[-1]  # table name, last dotted part, or alias
    else:
        return None
    # GROUP BY may name SELECT aliases or ordinals — the window's
    # PARTITION BY runs inside the wrap where neither exists, so
    # substitute each with its select expression;
    # the OUTER group_text stays verbatim (the outer scope still has
    # the aliases)
    sel = [_select_item(it) for it in _split_top_commas(sel_text)]
    gitems = _group_items(group_text, [k and k[0] for _, _, k in sel])
    if gitems is None:
        return None
    amap = {a: k[0] for _, a, k in sel if a is not None}
    gitems = [amap.get(g, g) if _is_ident(g) else g for g in gitems]
    if any("groupConcat" in _tokens(g) for g in gitems):
        return None  # a group item resolved to an aggregate alias
    # every parametric groupConcat in the segment must sit in the
    # select span (an ORDER BY copy would silently keep slice state)
    sel_toks = _tokens(sel_text)
    calls = []  # (start, end_exclusive, sep, limit, x) in sel_toks
    n = 0
    while n < len(sel_toks):
        cg = _gc_call(sel_toks, n)
        if cg is None:
            n += 1
            continue
        spec = _gc_parse_call("groupConcat", cg[1])
        if spec is None:
            return None
        calls.append((n, cg[0], *spec))
        n = cg[0]
    if not calls:
        return None
    # bail on SELECT * (the wrap's helper columns would leak) and on
    # any parametric groupConcat OUTSIDE the select span.  Only a
    # PROJECTION star counts — after SELECT / ',' / '.' — never
    # depth-0 multiplication
    for n in _top_level(sel_toks):
        if sel_toks[n] == "*":
            p = _prev_code(sel_toks, n - 1)
            prev = sel_toks[p] if p >= 0 else ""
            if prev in (".", ",", ""):
                return None
    if sum(1 for m in range(s, e) if _gc_call(toks, m)) != len(calls):
        return None
    # one rank column per distinct concat operand
    xs: list[str] = []
    x_slot: dict[str, int] = {}
    for _, _, _, _, x in calls:
        nx = _norm_expr(x)
        if nx not in x_slot:
            x_slot[nx] = len(xs)
            xs.append(x)
    part = (
        f"PARTITION BY {', '.join(gitems)} " if gitems else ""
    )
    rn_cols = ", ".join(
        f"row_number() OVER ({part}ORDER BY (({x}) IS NULL), "
        f"__gc_ord) AS __gc_rn{i}"
        for i, x in enumerate(xs)
    )
    new_sel = []
    pos = 0
    for st, en, sep, lim, x in calls:
        new_sel.append("".join(sel_toks[pos:st]))
        i = x_slot[_norm_expr(x)]
        new_sel.append(
            f"array_join(collect_list(CASE WHEN __gc_rn{i} <= {lim} "
            f"THEN ({x}) END), {sep})"
        )
        pos = en
    new_sel.append("".join(sel_toks[pos:]))
    inner1 = (
        f"SELECT *, monotonically_increasing_id() AS __gc_ord "
        f"FROM {from_text}"
        + (f" WHERE {where_text}" if where_text else "")
    )
    inner2 = (
        f"SELECT *, {rn_cols} FROM ({inner1}) {alias}"
    )
    return (
        f"SELECT {''.join(new_sel)} FROM ({inner2}) {alias}"
        + (f" GROUP BY {group_text}" if group_text else "")
        + (f" ORDER BY {order_text}" if order_text else "")
        + (f" {limit_text}" if limit_text else "")
    )


def transpile(sql: str, resolve_columns=None, engine_info=None) -> str:
    """Rewrite a ClickHouse-dialect query into Spark SQL (see module
    doc).  Unrecognized constructs pass through verbatim.
    ``resolve_columns`` (relation text → column names, or None) lets
    the ASOF/ANY rewrites emit their scale-shaped plans; without it
    the correct-but-local fallbacks/refusals apply.  ``engine_info``
    (table name → ``ddl.EngineInfo`` or None) unlocks ``FROM t
    FINAL`` reads for tables whose DDL ran through the front door."""
    toks = _tokens(sql)
    toks = _rewrite_paste_join(toks)
    toks = _rewrite_system_tables(toks)
    toks = _rewrite_sample_clause(toks, engine_info)
    toks = _rewrite_star_modifiers(toks, resolve_columns)
    toks = _rewrite_type_casts(toks)
    toks = _rewrite_ternary(toks)
    toks = _rewrite_tuple_in(toks)
    toks = _rewrite_bare_having(toks)
    toks = _rewrite_in_table(toks, resolve_columns)
    toks = _rewrite_with_scalars(toks)
    toks = _rewrite_offset_fetch(toks)
    toks = _rewrite_limit_ties(toks)
    toks = _rewrite_distinct_on(toks)
    toks = _rewrite_limit_by(toks, resolve_columns)
    toks = _rewrite_limit_offset_comma(toks)
    toks = _rewrite_with_fill(toks, resolve_columns)
    toks = _rewrite_asof(toks, resolve_columns)
    toks = _rewrite_any_join(toks, resolve_columns)
    toks = _normalize_weighted_sketch(toks)
    toks = _rewrite_owned(
        toks, lambda ts, n: ts[n] in _QW_FAMILY, _qw_replan
    )
    toks = _rewrite_owned(
        toks, lambda ts, n: ts[n] in _IV_FAMILY, _iv_replan
    )
    toks = _rewrite_owned(
        toks, lambda ts, n: ts[n] in _GA_FAMILY, _ga_replan
    )
    toks = _rewrite_owned(
        toks, lambda ts, n: _gc_call(ts, n) is not None, _gc_replan
    )
    toks = _rewrite_finalize_compose(toks)
    toks = _rewrite_final(toks, resolve_columns, engine_info)
    toks = _rewrite_clauses(toks)
    toks = _rewrite_window_derivative(toks)
    toks = _rewrite_sum_with_overflow(toks)
    toks = _rewrite_byte_swap(toks)
    toks = _guard_in_frame(toks)
    toks = _tokens("".join(toks))  # re-tokenize after clause splices
    return _rewrite_distinct_window(
        _rewrite_compound_window(
            _rewrite_tuple_index(_walk(toks, 0, len(toks)))
        )
    )


# weighted SKETCH-quantile twins → the exact-weighted register (r14
# batch 26): CH's weighted sketches repeat each value by its weight
# inside the sketch, and the exact cumulative-weight read is the
# deterministic refinement of that — the medianTiming→quantileTiming
# precedent one tier stronger (MIGRATION.md; diagnostics for invalid
# arities name the TARGET register).  Runs as a token PRE-pass so
# every downstream tier — the statement-level value-compressed
# re-plan (_qw_replan), the parametric renderer, the
# plain default-level 0.5 form, and the median spelling — serves the
# twins through the one ExactWeighted code path (code-review r14c:
# the first cut renamed inside _render_parametric, which skipped the
# re-plan and left the twins on the O(rows-per-group) collect fold).
_W_SKETCH_TWINS = {
    "quantileTimingWeighted": "quantileExactWeighted",
    "quantileTDigestWeighted": "quantileExactWeighted",
    "quantileBFloat16Weighted": "quantileExactWeighted",
    "quantilesTimingWeighted": "quantilesExactWeighted",
    "quantilesTDigestWeighted": "quantilesExactWeighted",
    "quantilesBFloat16Weighted": "quantilesExactWeighted",
    "medianTimingWeighted": "medianExactWeighted",
    "medianTDigestWeighted": "medianExactWeighted",
    "medianBFloat16Weighted": "medianExactWeighted",
}
# the -If combinator forms normalize the same way (code-review r14d:
# the bare-spelling map left median*WeightedIf leaking through) —
# the ExactWeighted*If targets mask the VALUE by the condition,
# which the NULL-skipping fold then drops
_W_SKETCH_TWINS.update({
    k + "If": v + "If" for k, v in list(_W_SKETCH_TWINS.items())
})


def _normalize_weighted_sketch(toks: list[str]) -> list[str]:
    """Rename :data:`_W_SKETCH_TWINS` CALL tokens (ident followed by
    '(') to their exact-weighted spellings."""
    for n, t in enumerate(toks):
        if t in _W_SKETCH_TWINS:
            j = _next_code(toks, n + 1)
            if j < len(toks) and toks[j] == "(":
                toks[n] = _W_SKETCH_TWINS[t]
    return toks


def _rewrite_finalize_compose(toks: list[str]) -> list[str]:
    """``finalizeAggregation(initializeAggregation('fState', …))`` —
    the per-row compose finalizes in closed form.  Runs as a token
    PRE-pass: the expression renderer is bottom-up, so by the time
    finalizeAggregation would render, its argument is already the
    rendered state constructor with no family tag left (audit batch
    17).  Stored state columns keep the -Merge refusal in
    _render_call."""
    n = 0
    while n < len(toks):
        if toks[n] != "finalizeAggregation":
            n += 1
            continue
        j = _next_code(toks, n + 1)
        if j >= len(toks) or toks[j] != "(":
            n += 1
            continue
        c = _match_close(toks, j)
        inner = [t for t in toks[j + 1:c] if not _is_skippable(t)]
        if not (
            len(inner) >= 4 and inner[0] == "initializeAggregation"
            and inner[1] == "(" and inner[-1] == ")"
            and inner[2][:1] in "'\""
        ):
            n += 1
            continue
        head = inner[2].strip("'\"")
        inner_text = "".join(toks[j + 1:c])
        if head in ("sumState", "minState", "maxState", "anyState",
                    "countState", "groupArrayState"):
            repl = inner_text  # the state IS the finalized value
        elif head == "avgState":
            repl = (
                f"element_at(transform(array({inner_text}), "
                f"__fa -> try_divide(CAST(__fa.s AS DOUBLE), "
                f"__fa.c)), 1)"
            )
        elif head in ("uniqExactState", "groupBitmapState"):
            repl = f"size(array_distinct({inner_text}))"
        else:
            n += 1  # unknown family: the renderer refusal applies
            continue
        toks[n:c + 1] = _tokens(f" {repl} ")
        n += 1
    return toks


def _rewrite_limit_offset_comma(toks: list[str]) -> list[str]:
    """ClickHouse/MySQL ``LIMIT offset, n`` → ``LIMIT n OFFSET
    offset`` (Spark has no comma form).  Runs AFTER the LIMIT BY
    rewrite, so any surviving ``LIMIT a, b`` is the plain offset
    form (r9 audit)."""
    i = 0
    while i < len(toks):
        t = toks[i]
        if _is_ident(t) and t.upper() == "LIMIT":
            a = _next_code(toks, i + 1)
            if a < len(toks) and re.fullmatch(r"\d+", toks[a] or ""):
                c = _next_code(toks, a + 1)
                if c < len(toks) and toks[c] == ",":
                    b = _next_code(toks, c + 1)
                    if b < len(toks) and re.fullmatch(
                        r"\d+", toks[b] or ""
                    ):
                        nxt = _next_code(toks, b + 1)
                        if not (
                            nxt < len(toks) and _is_ident(toks[nxt])
                            and toks[nxt].upper() == "BY"
                        ):
                            off, n = toks[a], toks[b]
                            toks[i:b + 1] = _tokens(
                                f"LIMIT {n} OFFSET {off}"
                            )
        i += 1
    return toks


def _rewrite_distinct_window(sql: str) -> str:
    """``COUNT(DISTINCT x) OVER w`` → ``size(collect_set(x)) OVER w``
    — Spark refuses DISTINCT window aggregates, but uniqExact is a
    legal CH window function and the frame-local distinct set is the
    exact same value (collect_set drops NULLs like COUNT DISTINCT).
    Runs on the final rendered SQL so it catches uniqExact arriving
    through any rewrite path."""
    toks = _tokens(sql)
    i = 0
    while i < len(toks):
        t = toks[i]
        if _is_ident(t) and t.upper() == "COUNT":
            j = _next_code(toks, i + 1)
            if j < len(toks) and toks[j] == "(":
                k = _next_code(toks, j + 1)
                if (
                    k < len(toks) and _is_ident(toks[k])
                    and toks[k].upper() == "DISTINCT"
                ):
                    close = _match_close(toks, j)
                    after = _next_code(toks, close + 1)
                    if (
                        after < len(toks) and _is_ident(toks[after])
                        and toks[after].upper() == "OVER"
                    ):
                        inner = "".join(toks[k + 1:close]).strip()
                        # single-expression form only: the multi-arg
                        # NULL rule (row skipped when ANY is NULL)
                        # has no struct spelling — leave it to fail
                        # loudly
                        multi = len(_split_commas(_tokens(inner))) > 1
                        # the OVER clause moves INSIDE size(): a
                        # parenthesized spec or a named window
                        spec_i = _next_code(toks, after + 1)
                        if not multi and spec_i < len(toks):
                            if toks[spec_i] == "(":
                                spec_end = _match_close(toks, spec_i)
                            elif _is_ident(toks[spec_i]):
                                spec_end = spec_i
                            else:
                                spec_end = None
                            if spec_end is not None:
                                over = "".join(
                                    toks[after:spec_end + 1]
                                )
                                toks[i:spec_end + 1] = _tokens(
                                    f"size(collect_set({inner}) "
                                    f"{over})"
                                )
        i += 1
    return "".join(toks)


_WINDOW_OK_HEADS = frozenset((
    "sum", "count", "avg", "mean", "min", "max", "collect_list",
    "collect_set", "percentile", "percentile_approx",
    "approx_count_distinct", "max_by", "min_by", "first",
    "first_value", "last", "last_value", "any_value", "stddev",
    "stddev_pop", "stddev_samp", "variance", "var_pop", "var_samp",
    "covar_pop", "covar_samp", "corr", "skewness", "kurtosis",
    "bit_or", "bit_and", "bit_xor", "bool_or", "bool_and",
    "count_if", "row_number", "rank", "dense_rank", "ntile", "lag",
    "lead", "nth_value", "cume_dist", "percent_rank", "try_sum",
    "try_avg", "mode", "median", "regr_slope", "regr_intercept",
    "regr_count", "regr_avgx", "regr_avgy", "regr_r2",
))

_INNER_AGG_HEADS = frozenset(
    h for h in _WINDOW_OK_HEADS
    if h not in (
        "row_number", "rank", "dense_rank", "ntile", "lag", "lead",
        "nth_value", "cume_dist", "percent_rank",
    )
)


def _rewrite_compound_window(sql: str) -> str:
    """Aggregate-as-window for COMPOUND-render heads (r16 audit
    batch 33): CH allows ANY aggregate as a window function, but a
    register whose render is a scalar fold over inner aggregates
    (topK's RLE fold, sumCount's struct, avgWeighted's sum ratio,
    the moment folds, sum/min/maxMap, groupArraySorted, …) leaves
    ``<fold-expr> OVER (spec)`` — Spark parses the whole fold as the
    window expression and fails MISSING_GROUP_BY (or a parse error
    for paren-headed renders).  The fold is scalar post-processing
    of its inner aggregates, so CH's window semantics are EXACTLY
    the fold applied per-row to frame-scoped inner aggregates:
    relocate the OVER spec onto every inner Spark aggregate call and
    drop the outer one.  Plain-call heads (sum, max_by, percentile,
    collect_list, ranking functions) are left untouched;
    ``count(DISTINCT …) OVER`` produced by the relocation falls
    through to ``_rewrite_distinct_window`` downstream, which runs
    after this pass for exactly that reason.  Runs on the final
    rendered SQL, like the DISTINCT-window pass."""
    if "OVER" not in sql and "over" not in sql:
        return sql
    toks = _tokens(sql)
    i = 0
    while i < len(toks):
        t = toks[i]
        if not (_is_ident(t) and t.upper() == "OVER"):
            i += 1
            continue
        close_i = _prev_code(toks, i - 1)
        if close_i < 0 or toks[close_i] != ")":
            i += 1
            continue
        open_i = _match_open(toks, close_i)
        head_i = _prev_code(toks, open_i - 1)
        has_head = head_i >= 0 and _is_ident(toks[head_i])
        if has_head and toks[head_i].lower() in _WINDOW_OK_HEADS:
            i += 1
            continue
        # chained calls/subscripts before the head: extend left over
        # ident/')'/']' runs so element_at(transform(...), 1) spans
        # from element_at, and a bare grouping paren spans itself
        expr_start = head_i if has_head else open_i
        spec_i = _next_code(toks, i + 1)
        if spec_i >= len(toks):
            i += 1
            continue
        if toks[spec_i] == "(":
            spec_end = _match_close(toks, spec_i)
        elif _is_ident(toks[spec_i]):
            spec_end = spec_i
        else:
            i += 1
            continue
        over_text = " " + "".join(toks[i:spec_end + 1])
        expr = toks[expr_start:close_i + 1]
        # attach the spec after every inner aggregate call
        out: list[str] = []
        k = 0
        found = False
        while k < len(expr):
            e = expr[k]
            out.append(e)
            if _is_ident(e) and e.lower() in _INNER_AGG_HEADS:
                nxt = _next_code(expr, k + 1)
                if nxt < len(expr) and expr[nxt] == "(":
                    close2 = _match_close(expr, nxt)
                    out.extend(expr[k + 1:close2 + 1])
                    out.append(over_text)
                    found = True
                    k = close2 + 1
                    continue
            k += 1
        if not found:
            i += 1
            continue
        toks[expr_start:spec_end + 1] = out
        i = expr_start
    return "".join(toks)


def _exp_time_decayed(
    kind: str, params: list[str], args: list[str], w: str,
) -> str:
    """``exponentialTimeDecayed{Sum,Count,Max,Avg}(λ)(v, t) OVER (w)``
    — ClickHouse's decay-weighted window aggregates: each frame row i
    contributes weight exp((tᵢ − t_cur)/λ) (≤ 1 under ORDER BY t, so
    the exponent never overflows).  Expanded EXACTLY as a fold over
    the frame's collected (v, t) arrays bound beside the current t —
    O(frame) memory per row, the documented cost of a decay window
    (CH buffers the frame too)."""
    if len(params) != 1:
        raise DialectError(
            f"exponentialTimeDecayed{kind} takes one time-constant "
            "parameter"
        )
    lam = params[0]
    if kind == "Count":
        if len(args) != 1:
            raise DialectError(
                "exponentialTimeDecayedCount takes (time)"
            )
        ts = args[0]
        v = None
    else:
        if len(args) != 2:
            raise DialectError(
                f"exponentialTimeDecayed{kind} takes (value, time)"
            )
        v, ts = args
    tsd = f"toFloat64({ts})"
    g = (
        f"struct("
        + (f"collect_list(toFloat64({v})) OVER {w} AS vs, "
           if v is not None else "")
        + f"collect_list({tsd}) OVER {w} AS t0, {tsd} AS tc)"
    )
    wgt = f"exp((__t - __g.tc) / toFloat64({lam}))"
    if kind == "Count":
        body = (
            f"aggregate(__g.t0, toFloat64(0), "
            f"(__a, __t) -> __a + {wgt})"
        )
    elif kind == "Max":
        body = (
            f"array_max(zip_with(__g.vs, __g.t0, "
            f"(__v, __t) -> __v * {wgt}))"
        )
    else:
        s = (
            f"aggregate(zip_with(__g.vs, __g.t0, "
            f"(__v, __t) -> __v * {wgt}), toFloat64(0), "
            f"(__a, __x) -> __a + __x)"
        )
        if kind == "Sum":
            body = s
        else:  # Avg
            c = (
                f"aggregate(__g.t0, toFloat64(0), "
                f"(__a, __t) -> __a + {wgt})"
            )
            body = f"({s}) / ({c})"
    # NOTE: emitted into the PRE-walk token stream, so the subscript
    # is the CH 1-based form (the walker maps it to try_element_at)
    return f"transform(array({g}), __g -> {body})[1]"


def _rewrite_sum_with_overflow(toks: list[str]) -> list[str]:
    """``sumWithOverflow(toUIntN(x))`` / ``(toIntN(x))`` → modular
    wrap at the DECLARED width (VERDICT r9 item 7).

    CH's sumWithOverflow keeps the INPUT width and wraps on overflow;
    the width lives in the CH table DDL, which the transpiler cannot
    see for a bare column — so exactly the spelling that declares the
    width inline maps, and the bare form refuses with the
    wrap-the-argument hint (refuse-on-silent-divergence).  Widths ≤ 32
    wrap via ``pmod`` on the widening BIGINT sum (ANSI-safe: ≤ 2³¹
    rows × < 2³² values < 2⁶³).  64-bit widths split each term into
    hi/lo 32-bit words (arithmetic shift + mask are exact in two's
    complement), sum the words separately, and recombine modulo 2⁶⁴ —
    no intermediate exceeds the signed-64 range, so ANSI mode never
    throws.  UInt64 results surface as DECIMAL(20,0) (the unsigned
    value; BIGINT cannot represent ≥ 2⁶³)."""
    out: list[str] = []
    i, n_, changed = 0, len(toks), False
    while i < n_:
        t = toks[i]
        if _is_ident(t) and t == "sumWithOverflow":
            j = _next_code(toks, i + 1)
            if j < n_ and toks[j] == "(":
                # RAW tokens, not _parse_args: rendering maps
                # toUInt8 → CAST(… AS SMALLINT), which erases the CH
                # width/signedness this rewrite needs
                k = _match_close(toks, j) + 1
                inside = toks[j + 1:k - 1]
                f = _next_code(inside, 0)
                m = (
                    re.fullmatch(r"to(U?)Int(8|16|32|64)", inside[f])
                    if f < len(inside) and _is_ident(inside[f])
                    else None
                )
                # the declared cast must BE the whole single argument:
                # its close paren is the last code token of the arg
                if m is not None:
                    fo = _next_code(inside, f + 1)
                    ok = (
                        fo < len(inside) and inside[fo] == "("
                        and _next_code(
                            inside, _match_close(inside, fo) + 1
                        ) >= len(inside)
                    )
                else:
                    ok = False
                if not ok:
                    raise DialectError(
                        "sumWithOverflow keeps the input width and "
                        "wraps on overflow, and the width lives in "
                        "the ClickHouse DDL — declare it inline "
                        "(sumWithOverflow(toUInt32(x)) / toInt64(x) "
                        "etc.), or use sum(), which widens"
                    )
                unsigned, bits = m.group(1) == "U", int(m.group(2))
                x = "".join(inside)
                if bits <= 32:
                    # per-term pre-wrap: congruent to CH's
                    # wrap-each-term-then-wrap-the-sum ((a mod W +
                    # b mod W) mod W = (a+b) mod W) and keeps every
                    # intermediate < 2³¹ rows × < 2³² — the widening
                    # sum can never hit Spark's ANSI overflow even on
                    # out-of-range inputs
                    w = 1 << bits
                    wrapped = f"pmod(sum(pmod(toInt64({x}), {w})), {w})"
                    if unsigned:
                        expr = wrapped
                    else:
                        expr = (
                            f"IF({wrapped} >= {w // 2}, "
                            f"{wrapped} - {w}, {wrapped})"
                        )
                else:
                    lo = f"sum(toInt64({x}) & 4294967295)"
                    hi = (
                        f"((sum(shiftright(toInt64({x}), 32)) + "
                        f"shiftright({lo}, 32)) & 4294967295)"
                    )
                    l_ = f"({lo} & 4294967295)"
                    signed = (
                        f"CASE WHEN {hi} >= 2147483648 THEN "
                        f"({hi} - 4294967296) * 4294967296 + {l_} "
                        f"ELSE {hi} * 4294967296 + {l_} END"
                    )
                    if unsigned:
                        expr = (
                            f"CASE WHEN ({signed}) < 0 THEN "
                            f"CAST(({signed}) AS DECIMAL(20, 0)) + "
                            f"18446744073709551616 ELSE "
                            f"CAST(({signed}) AS DECIMAL(20, 0)) END"
                        )
                    else:
                        expr = f"({signed})"
                out.append(expr)
                i = k
                changed = True
                continue
        out.append(t)
        i += 1
    return _tokens("".join(out)) if changed else out


def _rewrite_byte_swap(toks: list[str]) -> list[str]:
    """``byteSwap(toUIntN(x))`` / ``(toIntN(x))`` → byte reversal at
    the DECLARED width (r10 audit batch 5) — raw-token pre-pass for
    the same reason as ``_rewrite_sum_with_overflow``: the rendered
    CAST erases the CH width (toUInt32 → BIGINT).  Logical shifts
    reassemble the N/8 bytes in reverse; two's complement keeps the
    byte view identical for signed inputs.  UInt64's swapped value can
    exceed Int64 range — it surfaces as the signed reinterpretation of
    the same 8 bytes (the documented UInt64-as-BIGINT narrowing)."""
    out: list[str] = []
    i, n_, changed = 0, len(toks), False
    while i < n_:
        t = toks[i]
        if _is_ident(t) and t == "byteSwap":
            j = _next_code(toks, i + 1)
            if j < n_ and toks[j] == "(":
                k = _match_close(toks, j) + 1
                inside = toks[j + 1:k - 1]
                f = _next_code(inside, 0)
                m = (
                    re.fullmatch(r"to(U?)Int(8|16|32|64)", inside[f])
                    if f < len(inside) and _is_ident(inside[f])
                    else None
                )
                if m is not None:
                    fo = _next_code(inside, f + 1)
                    ok = (
                        fo < len(inside) and inside[fo] == "("
                        and _next_code(
                            inside, _match_close(inside, fo) + 1
                        ) >= len(inside)
                    )
                else:
                    ok = False
                if ok:
                    unsigned = m.group(1) == "U"
                    width = int(m.group(2)) // 8
                    # bind the argument ONCE via the single-element
                    # transform trick (the _exp_time_decayed
                    # precedent): the reassembly references it
                    # width times, and a non-deterministic or
                    # expensive inner expression must not re-evaluate
                    # per byte (code-review r10b)
                    x = f"CAST(toInt64({''.join(inside)}) AS BIGINT)"
                    if width == 1:
                        body = "(__bs & 255)"
                    else:
                        terms = " + ".join(
                            "shiftleft(shiftrightunsigned(__bs, "
                            f"{8 * b}) & 255, {8 * (width - 1 - b)})"
                            for b in range(width)
                        )
                        body = f"({terms})"
                    if not unsigned and width < 8:
                        # sign-extend back to the DECLARED width: the
                        # reassembled value is the unsigned byte view;
                        # CH returns IntN, so a swapped high byte
                        # >= 0x80 must read negative (byteSwap(
                        # toInt16(-2)) = -257, not 65279 —
                        # code-review r10b).  Width 8 sign-lands
                        # naturally via shiftleft into bit 63.
                        half = 1 << (8 * width - 1)
                        full = 1 << (8 * width)
                        body = (
                            f"(CASE WHEN {body} >= {half} THEN "
                            f"{body} - {full} ELSE {body} END)"
                        )
                    out.append(
                        f"transform(array({x}), __bs -> {body})[1]"
                    )
                    i = k
                    changed = True
                    continue
        out.append(t)
        i += 1
    if changed:
        # re-scan: a byteSwap nested inside the rewritten argument is
        # emitted into the replacement text and needs its own pass
        # (code-review r10b)
        return _rewrite_byte_swap(_tokens("".join(out)))
    return out


def _is_frame_kw(toks: list[str], i: int) -> bool:
    """True when ``toks[i]`` (already known to spell ROWS/RANGE/GROUPS)
    actually OPENS a frame clause — i.e. the next code token is a
    frame-bound word or a numeric/interval bound.  A COLUMN merely
    named ``rows``/``range`` (``ORDER BY range``) is followed by a
    sort direction, comma, the frame keyword itself, or the closing
    paren — never by these (code-review r10: the bare name match
    refused valid specs and could strip a sort key)."""
    j = _next_code(toks, i + 1)
    if j >= len(toks):
        return False
    nxt = toks[j]
    if _is_ident(nxt) and nxt.upper() in (
        "BETWEEN", "UNBOUNDED", "CURRENT", "INTERVAL",
    ):
        return True
    return bool(re.fullmatch(r"\d+(\.\d+)?", nxt))


def _frame_spec(spec: list[str]) -> tuple[bool, list[str], list[str]]:
    """Inspect a parenthesized window-spec token list: returns
    ``(has_explicit_frame, start_words, end_words)`` where the bound
    words are the UPPER-cased identifier tokens of each frame bound
    (numeric offsets are not identifiers, so ``2 PRECEDING`` reports
    as ``["PRECEDING"]``).  No explicit frame reports the SQL default
    ``RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW``."""
    for i in _top_level(spec, 1):
        if (
            spec[i].upper() in ("ROWS", "RANGE", "GROUPS")
            and _is_frame_kw(spec, i)
        ):
            words = [
                x.upper() for x in spec[i + 1:len(spec) - 1]
                if _is_ident(x)
            ]
            if "BETWEEN" in words and "AND" in words:
                k = words.index("AND")
                start, end = words[1:k], words[k + 1:]
            else:  # short form: the single bound is the START
                start, end = words, ["CURRENT", "ROW"]
            return (True, start, end)
    return (False, ["UNBOUNDED", "PRECEDING"], ["CURRENT", "ROW"])


def _guard_in_frame(toks: list[str]) -> list[str]:
    """lagInFrame/leadInFrame frame contract (VERDICT r9 item 4).

    ClickHouse's *InFrame functions respect the window frame; Spark's
    lag/lead ignore it (and reject an explicit one outright).  The
    plain name-level map silently diverged whenever the frame
    mattered, contradicting the module's refuse-on-silent-divergence
    rule, so this pass vets every occurrence BEFORE _walk maps the
    names:

    * ``lagInFrame`` looks BACKWARD: it equals lag() iff the frame
      start is UNBOUNDED PRECEDING — true for the default frame and
      for explicit full-lookback frames; anything else (e.g. ``ROWS
      BETWEEN 2 PRECEDING AND CURRENT ROW``) clips the lookback and
      refuses.
    * ``leadInFrame`` looks FORWARD: under the DEFAULT frame (… AND
      CURRENT ROW) ClickHouse returns the default value for every
      non-peer row — it never equals lead() unless the frame end is
      UNBOUNDED FOLLOWING, so exactly that spelling maps and
      everything else (including the bare default) refuses with the
      spell-it hint.

    Allowed occurrences with an explicit frame get the frame STRIPPED
    from their inline spec (Spark's lag/lead reject frames; they are
    frame-insensitive so semantics hold — the nonNegativeDerivative
    precedent above).  Named-window specs are resolved read-only via
    their ``WINDOW name AS (…)`` definition; stripping a shared named
    spec would alter the clause's other users, so an explicit frame
    there refuses with an inline-the-spec hint."""

    def named_spec(name: str) -> list[str] | None:
        # Anchored to the WINDOW keyword (ADVICE r10): a bare
        # "<name> AS (" scan would misread a CTE that shares the
        # window's name (WITH w AS (...) ... OVER w) as the spec.
        for m in range(len(toks)):
            if not (_is_ident(toks[m]) and toks[m].upper() == "WINDOW"):
                continue
            j = _next_code(toks, m + 1)
            # walk the definition list: name AS (spec) [, name AS (…)]*
            while j < len(toks) and _is_ident(toks[j]):
                nm = toks[j]
                a = _next_code(toks, j + 1)
                if not (
                    a < len(toks) and _is_ident(toks[a])
                    and toks[a].upper() == "AS"
                ):
                    break
                p = _next_code(toks, a + 1)
                if not (p < len(toks) and toks[p] == "("):
                    break
                close_ = _match_close(toks, p)
                if nm == name:
                    return toks[p:close_ + 1]
                c = _next_code(toks, close_ + 1)
                if not (c < len(toks) and toks[c] == ","):
                    break
                j = _next_code(toks, c + 1)
        return None

    i = 0
    while i < len(toks):
        t = toks[i]
        if not (_is_ident(t) and t in ("lagInFrame", "leadInFrame")):
            i += 1
            continue
        j = _next_code(toks, i + 1)
        if j >= len(toks) or toks[j] != "(":
            i += 1
            continue
        close = _match_close(toks, j)
        ov = _next_code(toks, close + 1)
        if not (
            ov < len(toks) and _is_ident(toks[ov])
            and toks[ov].upper() == "OVER"
        ):
            raise DialectError(
                f"{t} is a window function — write {t}(…) OVER (…)"
            )
        sp = _next_code(toks, ov + 1)
        inline = sp < len(toks) and toks[sp] == "("
        if inline:
            sp_close = _match_close(toks, sp)
            spec = toks[sp:sp_close + 1]
        elif sp < len(toks) and _is_ident(toks[sp]):
            spec = named_spec(toks[sp])
            if spec is None:
                raise DialectError(
                    f"{t} OVER {toks[sp]}: no WINDOW {toks[sp]} AS "
                    "(…) definition found in the statement"
                )
        else:
            raise DialectError(f"{t}: malformed OVER clause")
        has_frame, start, end = _frame_spec(spec)
        start_up = start[:2] == ["UNBOUNDED", "PRECEDING"]
        end_uf = end[:2] == ["UNBOUNDED", "FOLLOWING"]
        # The offset row must also be INSIDE the frame on the other
        # side (ADVICE r10, medium): lagInFrame over … AND 2 PRECEDING
        # returns the default for offsets past the frame END, and
        # leadInFrame over 2 FOLLOWING AND … returns the default for
        # offsets before the frame START — both map to plain lag/lead
        # only when the near bound reaches CURRENT ROW.
        end_reaches_cur = end[:2] == ["CURRENT", "ROW"] or (
            "FOLLOWING" in end
        )
        start_reaches_cur = start[:2] == ["CURRENT", "ROW"] or (
            "PRECEDING" in start
        )
        if t == "lagInFrame" and not (start_up and end_reaches_cur):
            raise DialectError(
                "lagInFrame only reaches rows INSIDE the frame: a "
                "frame that does not span UNBOUNDED PRECEDING through "
                "at least CURRENT ROW clips the lookback in "
                "ClickHouse (offsets outside it return the default), "
                "and Spark's lag() ignores frames — spell the "
                "clipping explicitly (e.g. CASE on row_number) or "
                "widen the frame to cover UNBOUNDED PRECEDING AND "
                "CURRENT ROW"
            )
        if t == "leadInFrame" and not (end_uf and start_reaches_cur):
            raise DialectError(
                "leadInFrame only reaches rows INSIDE the frame, and "
                "this frame does not span CURRENT ROW through "
                "UNBOUNDED FOLLOWING — ClickHouse returns the default "
                "value for rows outside it (including every non-peer "
                "row under the default frame), while Spark's lead() "
                "ignores frames entirely. For standard lead semantics "
                "spell ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED "
                "FOLLOWING"
            )
        if has_frame:
            if not inline:
                raise DialectError(
                    f"{t} OVER a NAMED window with an explicit frame: "
                    "Spark's lag/lead reject frames, and stripping the "
                    "shared WINDOW definition would change its other "
                    "users — inline the spec on this call"
                )
            for wi in _top_level(toks, sp + 1, sp_close):
                if (
                    toks[wi].upper() in ("ROWS", "RANGE", "GROUPS")
                    and _is_frame_kw(toks, wi)
                ):
                    toks[wi:sp_close + 1] = [")"]
                    break
        i += 1
    return toks


def _rewrite_window_derivative(toks: list[str]) -> list[str]:
    """Window-positioned ClickHouse functions that expand to their
    defining expressions with the OVER clause duplicated/captured:

    * ``nonNegativeDerivative(metric, ts) OVER (w)`` — the
      rate-of-change window function.  The aggregate (windowless)
      form is block-dependent and refuses (_render_call); the OVER
      form is fully deterministic: ``max(0, Δmetric / Δseconds)``
      with the window copied onto both lag() references (frame
      clause stripped — lag is frame-insensitive).  CAST(ts AS
      DOUBLE) is epoch seconds for timestamps and the identity for
      numerics, matching CH's per-second rate.  First row and
      zero-Δt rows yield 0 (the nullif guard keeps ANSI
      division-by-zero out).
    * ``exponentialTimeDecayed{Sum,Count,Max,Avg}(λ)(v, t) OVER (w)``
      — the decay-weighted window aggregates (see
      :func:`_exp_time_decayed`)."""
    out: list[str] = []
    i, n_, changed = 0, len(toks), False
    while i < n_:
        t = toks[i]
        if _is_ident(t) and t.startswith("exponentialTimeDecayed"):
            kind = t.removeprefix("exponentialTimeDecayed")
            j = _next_code(toks, i + 1)
            if kind in ("Sum", "Count", "Max", "Avg") and (
                j < n_ and toks[j] == "("
            ):
                params, k = _parse_args(toks, j)
                j2 = _next_code(toks, k)
                if j2 < n_ and toks[j2] == "(":
                    args, k2 = _parse_args(toks, j2)
                    j3 = _next_code(toks, k2)
                    if (
                        j3 < n_ and _is_ident(toks[j3])
                        and toks[j3].upper() == "OVER"
                    ):
                        j4 = _next_code(toks, j3 + 1)
                        if j4 < n_ and toks[j4] == "(":
                            e = _match_close(toks, j4) + 1
                            out.append(_exp_time_decayed(
                                kind, params, args,
                                "".join(toks[j4:e]),
                            ))
                            i = e
                            changed = True
                            continue
            raise DialectError(
                "exponentialTimeDecayed* is a WINDOW function — "
                "write exponentialTimeDecayedSum(λ)(v, t) OVER "
                "(PARTITION BY … ORDER BY t [frame])"
            )
        if _is_ident(t) and t == "nonNegativeDerivative":
            j = _next_code(toks, i + 1)
            if j < n_ and toks[j] == "(":
                args, k = _parse_args(toks, j)
                j2 = _next_code(toks, k)
                if (
                    j2 < n_ and _is_ident(toks[j2])
                    and toks[j2].upper() == "OVER"
                ):
                    j3 = _next_code(toks, j2 + 1)
                    if j3 < n_ and toks[j3] == "(":
                        e = _match_close(toks, j3) + 1
                        if len(args) != 2:
                            raise DialectError(
                                "nonNegativeDerivative OVER takes "
                                "(metric, timestamp); the 3-arg "
                                "interval form scales by a constant "
                                "— multiply the result by the "
                                "interval's seconds"
                            )
                        m, ts = args
                        # lag() rejects explicit frames — strip any
                        # ROWS/RANGE clause from the window copy (lag
                        # is frame-insensitive, so semantics hold)
                        wt = toks[j3:e]
                        for wi in _top_level(wt, 1):
                            if (
                                wt[wi].upper() in ("ROWS", "RANGE")
                                and _is_frame_kw(wt, wi)
                            ):
                                wt = wt[:wi] + [")"]
                                break
                        w = "".join(wt)
                        out.append(
                            f"coalesce(greatest(toFloat64(0), "
                            f"(toFloat64({m}) - toFloat64("
                            f"lagInFrame({m}, 1) OVER {w})) / "
                            f"nullIf(toFloat64({ts}) - toFloat64("
                            f"lagInFrame({ts}, 1) OVER {w}), "
                            f"toFloat64(0))), toFloat64(0))"
                        )
                        i = e
                        changed = True
                        continue
        out.append(t)
        i += 1
    return _tokens("".join(out)) if changed else out


def _rewrite_tuple_index(sql: str) -> str:
    """ClickHouse positional tuple access on a rewritten
    tuple-returning function — ``sumCount(x).1``,
    ``studentTTest(v, i).2`` — lands here as
    ``named_struct('f', …).N``, which Spark's parser rejects.  Map
    the 1-based position to the struct's Nth field name (the names
    are always inline string literals, since every tuple-returning
    rewrite in this module emits a literal named_struct).  Positional
    access on anything else (a column alias, an untyped expression)
    passes through untouched — Spark will name the unresolved
    reference in its own error."""
    toks = _tokens(sql)
    i = 2
    while i < len(toks):
        # whitespace-tolerant backward look (``t . 1`` is legal SQL
        # spacing — code-review r10b): p1 = the '.', p2 = its target
        p1 = _prev_code(toks, i - 1) if toks[i].isdigit() else -1
        p2 = _prev_code(toks, p1 - 1) if p1 >= 1 else -1
        if (
            toks[i].isdigit() and p1 >= 0 and toks[p1] == "."
            and p2 >= 0 and toks[p2] == ")"
        ):
            j = _match_open(toks, p2) - 1
            k = j  # token before the '('
            while k >= 0 and toks[k].isspace():
                k -= 1
            # peel redundant wrapping parens — `(struct(…)).N` (the
            # tuple-arithmetic emissions parenthesize themselves,
            # batch 18): descend while the group is NOT a function's
            # argument list (preceded by a non-keyword identifier)
            # AND wraps exactly one call, keeping the `'(' at j+1 …
            # ')' at p2` invariant the field scans below rely on
            _pk = ("select", "where", "when", "then", "else", "and",
                   "or", "not", "on", "by", "in", "as", "from",
                   "having", "case", "end", "between", "union",
                   "all", "distinct", "like", "return", "returns")
            while (
                k < 0 or not _is_ident(toks[k])
                or toks[k].lower() in _pk
            ):
                inner = _next_code(toks, j + 2)
                if inner < 0 or inner >= p2:
                    break
                if toks[inner] == "(":
                    # pure paren-in-paren: descend without a call
                    mc = _match_close(toks, inner)
                    if _next_code(toks, mc + 1) != p2:
                        break
                    j, p2 = inner - 1, mc
                    continue
                if not _is_ident(toks[inner]):
                    break
                nx = _next_code(toks, inner + 1)
                if nx < 0 or nx >= p2 or toks[nx] != "(":
                    break
                mc = _match_close(toks, nx)
                if _next_code(toks, mc + 1) != p2:
                    break
                k, j, p2 = inner, nx - 1, mc
            if k >= 0 and toks[k].lower() == "named_struct":
                # field names: string literals at depth-1 positions
                # 1, 3, 5… of the argument list
                names, argpos = [], 0
                for q in _top_level(toks, j + 2, p2):
                    if toks[q] == ",":
                        argpos += 1
                    elif argpos % 2 == 0 and toks[q][:1] in "'\"":
                        names.append(toks[q][1:-1])
                n = int(toks[i])
                if 1 <= n <= len(names):
                    toks[i] = f"`{names[n - 1]}`"
            elif k >= 0 and toks[k].lower() == "struct":
                # UNNAMED struct (tuple()/tuplePlus/vectorSum/…):
                # Spark names a bare-column field after the COLUMN
                # (parens are parse-transparent, so `(a)` too) and
                # computed fields col1..colN — derive the Nth
                # argument's actual name instead of assuming colN
                # (code-review r13e: `tuple(a, b).1` must address
                # `a`, not a nonexistent col1)
                spans = [
                    [t for t in sp if not t.isspace()]
                    for sp in _split_commas(toks[j + 2:p2])
                ]
                n = int(toks[i])
                if 1 <= n <= len(spans):
                    arg = spans[n - 1]
                    # unwrap parens around the whole argument, not
                    # two operand groups like (a) > (b)
                    while (
                        len(arg) >= 2 and arg[0] == "("
                        and _match_close(arg, 0) == len(arg) - 1
                    ):
                        arg = arg[1:-1]
                    if arg and all(
                        _is_ident(t) or t == "." for t in arg
                    ):
                        # bare (possibly dotted) column: field name
                        # is the last path component
                        toks[i] = f"`{arg[-1]}`"
                    else:
                        toks[i] = f"`col{n}`"
            elif k >= 0 and toks[k].lower() == "try_element_at":
                # kv[n].N — CH's UNNAMED Array(Tuple) element access
                # (JSONExtractKeysAndValuesRaw is the tuple-returning
                # rewrite whose names are NOT inline literals): the
                # struct fields are the fixed (k, v) pair (r10); a
                # position beyond the pair refuses instead of leaking
                # the opaque parser error (code-review r10b)
                inner = _next_code(toks, j + 2)
                if (
                    inner < len(toks)
                    and _is_ident(toks[inner])
                    and toks[inner] == "ch_json_kv_raw"
                ):
                    if toks[i] not in ("1", "2"):
                        raise DialectError(
                            f".{toks[i]}: "
                            "JSONExtractKeysAndValuesRaw elements "
                            "are 2-tuples — only .1 (key) and .2 "
                            "(raw value) exist"
                        )
                    toks[i] = "`k`" if toks[i] == "1" else "`v`"
        elif (
            toks[i].isdigit() and p1 >= 0 and toks[p1] == "."
            and p2 >= 0 and _is_ident(toks[p2])
        ):
            # positional access on a bare identifier (a lambda var or
            # a tuple-valued alias): Spark structs are name-addressed
            # and no type information exists here — refuse with the
            # pointer instead of leaking an opaque unresolved-column
            # error (the pass-through contract)
            raise DialectError(
                f"{toks[p2]}.{toks[i]}: positional tuple access "
                "on a column/lambda variable — Spark structs are "
                "name-addressed; use the field names (the "
                "JSONExtractKeysAndValuesRaw element fields are "
                f"{toks[p2]}.k / {toks[p2]}.v; other "
                "tuple-returning rewrites document theirs), or index "
                "the element directly (arr[n].1 works)"
            )
        i += 1
    return "".join(toks)


def catalog_resolver(spark: SparkSession):
    """Column resolver backed by the session catalog: accepts a table
    name or a parenthesized (ClickHouse-dialect) subquery, returns its
    column names via a LIMIT 0 analysis (no execution), or None.  The
    returned callable also carries a ``.dtypes`` attribute returning
    [(name, spark dtype string)] — the SummingMergeTree FINAL rewrite
    needs types to know which columns sum."""

    def _probe(rel: str):
        rel = rel.strip()
        if rel.startswith("("):
            inner = transpile(rel[1:-1])
            rel = f"({inner}) __asof_probe"
        return spark.sql(f"SELECT * FROM {rel} LIMIT 0")

    def resolve(rel: str):
        try:
            return _probe(rel).columns
        except Exception:
            return None

    def dtypes(rel: str):
        try:
            return _probe(rel).dtypes
        except Exception:
            return None

    resolve.dtypes = dtypes
    return resolve


def split_statements(script: str) -> list[str]:
    """Split a ClickHouse script on top-level ``;`` (string literals,
    quoted identifiers, and comments are opaque via the tokenizer)."""
    toks = _tokens(script)
    out: list[str] = []
    cur: list[str] = []
    for t in toks:
        if t == ";":
            stmt = "".join(cur).strip()
            if stmt:
                out.append(stmt)
            cur = []
        else:
            cur.append(t)
    stmt = "".join(cur).strip()
    if stmt:
        out.append(stmt)
    return out


def _table_location(spark: "SparkSession", target: str) -> str:
    rows = spark.sql(f"DESCRIBE FORMATTED {target}").collect()
    for r in rows:
        if str(r[0]).strip() == "Location":
            return str(r[1]).removeprefix("file:")
    raise DialectError(f"cannot determine storage location of {target}")


def _copy_on_write(spark: "SparkSession", target: str, df) -> None:
    """Materialize ``df`` and replace ``target``'s files — the
    mutation rewrite ClickHouse performs asynchronously for
    ``ALTER TABLE … DELETE/UPDATE`` (mutations are whole-part
    rewrites there too; here it is one job writing the surviving rows
    + a file swap, the ModelRunner.mutate pattern for plain script
    tables).  The driver-side move is the local-filesystem analog of
    a commit protocol: on object storage the same two phases are the
    job commit (write to a staging prefix) and a prefix swap /
    manifest pointer flip — data volume moved is identical, and the
    write job itself is fully distributed either way."""
    import glob
    import os
    import shutil
    import tempfile

    path = _table_location(spark, target)
    tmp = tempfile.mkdtemp(prefix="ch_mutate_")
    rebalanced(df).write.mode("overwrite").parquet(tmp)
    for f in glob.glob(os.path.join(path, "*")):
        if os.path.isdir(f):
            shutil.rmtree(f)
        else:
            os.remove(f)
    for f in glob.glob(os.path.join(tmp, "*")):
        shutil.move(f, os.path.join(path, os.path.basename(f)))
    spark.sql(f"REFRESH TABLE {target}")


def _recreate_table_as(spark: "SparkSession", target: str, df) -> None:
    """Replace ``target``'s SCHEMA AND FILES with ``df`` — the
    copy-on-write path for schema-changing mutations (DROP/MODIFY/
    RENAME COLUMN), where :func:`_copy_on_write` alone would leave
    the catalog schema stale.  Materialize first (df reads the old
    table), then drop and recreate at the same location with the new
    column list.  The recreated table is location-pinned (external);
    data-bearing semantics are unchanged."""
    import glob
    import os
    import shutil
    import tempfile

    loc = _table_location(spark, target)
    tmp = tempfile.mkdtemp(prefix="ch_schema_")
    rebalanced(df).write.mode("overwrite").parquet(tmp)
    cols = ", ".join(f"{n} {t}" for n, t in df.dtypes)
    spark.sql(f"DROP TABLE {target}")
    os.makedirs(loc, exist_ok=True)
    for f in glob.glob(os.path.join(loc, "*")):
        shutil.rmtree(f) if os.path.isdir(f) else os.remove(f)
    for f in glob.glob(os.path.join(tmp, "*")):
        shutil.move(f, loc)
    spark.sql(
        f"CREATE TABLE {target} ({cols}) USING parquet "
        f"LOCATION '{loc}'"
    )


_CH_TYPE_ZERO = {
    "STRING": "''",
    "DATE": "DATE '1970-01-01'",
    "TIMESTAMP": "TIMESTAMP '1970-01-01 00:00:00'",
    "BOOLEAN": "false",
}


def _apply_schema_change(
    spark: "SparkSession", target: str, op: str, rest: str,
    resolver, engine_info,
) -> None:
    """``ALTER TABLE t ADD|DROP|MODIFY|RENAME COLUMN …`` — ClickHouse
    schema-evolution statements.  ADD fills existing rows with the
    DEFAULT expression or ClickHouse's TYPE DEFAULT (0/''/epoch —
    NOT Spark's NULL-fill); DROP/MODIFY/RENAME rewrite schema + files
    via :func:`_recreate_table_as` (Spark's native ALTER can neither
    drop nor retype v1 datasource columns)."""
    import re as _re

    from clickhouse_vs_dbt_spark.ddl import convert_type

    cols = dict(spark.table(target).dtypes)
    op = op.upper()
    if op == "ADD":
        m = _re.match(
            r"(?is)\s*(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][\w]*)\s+"
            r"(.+?)(?:\s+DEFAULT\s+(.+))?\s*$",
            rest,
            _re.DOTALL,
        )
        if not m:
            raise DialectError("ALTER TABLE ADD COLUMN: name Type [DEFAULT e]")
        ine, name, chtype, default = m.groups()
        if name in cols:
            if ine:
                return
            raise DialectError(f"column {name} already exists in {target}")
        t = convert_type(chtype.strip())
        if default is not None:
            dexpr = transpile(
                default, resolve_columns=resolver, engine_info=engine_info
            )
        else:
            dexpr = _CH_TYPE_ZERO.get(t.upper().split("(")[0], "0")
        # Metadata-only fast path (guide §1.2 — remove the pass
        # outright): ClickHouse's own ADD COLUMN is metadata-only
        # (existing parts fill the default at read time), and Spark's
        # DEFAULT column machinery (spark.sql.defaultColumn, 3.4+)
        # implements the identical fill-on-read contract for parquet
        # tables via the column's EXISTS_DEFAULT — so a CONSTANT
        # default needs no table rewrite at all.  Non-foldable
        # defaults (expressions over other columns) keep the
        # copy-on-write rewrite below, exactly as before.
        from pyspark.errors import AnalysisException

        try:
            spark.sql(
                f"ALTER TABLE {target} ADD COLUMNS "
                f"({name} {t} DEFAULT ({dexpr}))"
            )
            return
        except AnalysisException as exc:
            # Expected here: non-constant defaults (expressions over
            # other columns) — INVALID_DEFAULT_VALUE.* — take the
            # copy-on-write rewrite below.  Anything else (bad type,
            # unresolvable table, defaultColumn disabled) would
            # resurface from the rewrite with a confusing message, so
            # log what was swallowed before rerouting (ADVICE r16).
            cond = (
                exc.getCondition()
                if hasattr(exc, "getCondition") else None
            )
            if cond and not str(cond).startswith(
                "INVALID_DEFAULT_VALUE"
            ):
                import sys as _sys

                print(
                    f"ALTER TABLE {target} ADD COLUMN {name}: "
                    f"metadata-only path failed with {cond}; taking "
                    "the copy-on-write rewrite",
                    file=_sys.stderr,
                )
        if name not in dict(spark.table(target).dtypes):
            spark.sql(f"ALTER TABLE {target} ADD COLUMNS ({name} {t})")
        df = spark.sql(
            f"SELECT * EXCEPT ({name}), CAST(({dexpr}) AS {t}) AS {name} "
            f"FROM {target}"
        )
        _copy_on_write(spark, target, df)
        return
    if op == "DROP":
        m = _re.match(
            r"(?is)\s*(IF\s+EXISTS\s+)?([A-Za-z_][\w]*)\s*$", rest
        )
        if not m:
            raise DialectError("ALTER TABLE DROP COLUMN: expected a name")
        ife, name = m.groups()
        if name not in cols:
            if ife:
                return
            raise DialectError(f"column {name} does not exist in {target}")
        keep = [c for c in cols if c != name]
        _recreate_table_as(
            spark, target, spark.table(target).select(*keep)
        )
        return
    if op == "MODIFY":
        m = _re.match(r"(?is)\s*([A-Za-z_][\w]*)\s+(.+?)\s*$", rest)
        if not m:
            raise DialectError("ALTER TABLE MODIFY COLUMN: name NewType")
        name, chtype = m.groups()
        if name not in cols:
            raise DialectError(f"column {name} does not exist in {target}")
        t = convert_type(chtype.strip())
        sel = ", ".join(
            f"CAST({c} AS {t}) AS {c}" if c == name else c for c in cols
        )
        _recreate_table_as(
            spark, target, spark.sql(f"SELECT {sel} FROM {target}")
        )
        return
    if op == "RENAME":
        m = _re.match(
            r"(?is)\s*(IF\s+EXISTS\s+)?([A-Za-z_][\w]*)\s+TO\s+"
            r"([A-Za-z_][\w]*)\s*$",
            rest,
        )
        if not m:
            raise DialectError("ALTER TABLE RENAME COLUMN: a TO b")
        ife, old, new = m.groups()
        if old not in cols:
            if ife:
                return
            raise DialectError(f"column {old} does not exist in {target}")
        sel = ", ".join(
            f"{c} AS {new}" if c == old else c for c in cols
        )
        _recreate_table_as(
            spark, target, spark.sql(f"SELECT {sel} FROM {target}")
        )
        return
    raise DialectError(f"unsupported ALTER TABLE column operation {op}")


def _apply_mutation(
    spark: "SparkSession", target: str, kind: str, rest: str,
    resolver, engine_info,
) -> None:
    """``ALTER TABLE t DELETE WHERE c`` /
    ``ALTER TABLE t UPDATE col = expr[, …] WHERE c`` — ClickHouse's
    mutation statements as copy-on-write rewrites.  NULL conditions
    keep the row (DELETE) / leave it unchanged (UPDATE), matching
    ClickHouse's boolean evaluation."""
    import re as _re

    # optional IN PARTITION p (before WHERE): scope the rewrite to
    # that partition's directory only — ClickHouse's own mutation
    # granularity is the part, and at 100 TB rewriting one partition
    # instead of the table is the difference between a maintenance
    # job and an outage
    part_val = None
    pm = _re.match(
        r"(?is)^(.*?)\bIN\s+PARTITION\s+('[^']*'|[\w.]+)\s+"
        r"(WHERE\b.*)$",
        rest,
        _re.DOTALL,
    )
    if pm:
        import clickhouse_vs_dbt_spark.ddl as _ddl

        part_val = pm.group(2)
        rest = (pm.group(1) + " " + pm.group(3)).strip()
        tinfo = _ddl.lookup_engine_info(target)
        pcol = getattr(tinfo, "partition_by", None) if tinfo else None
        if not pcol:
            raise DialectError(
                "IN PARTITION needs the table's plain-column "
                "PARTITION BY from its CREATE TABLE (run the DDL "
                "through the front door)"
            )

    if kind.upper() == "DELETE":
        wm = _re.match(r"(?is)\s*WHERE\s+(.*)", rest, _re.DOTALL)
        if not wm:
            raise DialectError("ALTER TABLE ... DELETE needs WHERE")
        cond = transpile(
            wm.group(1), resolve_columns=resolver, engine_info=engine_info
        )
        if part_val is not None:
            df = spark.sql(
                f"SELECT * FROM {target} WHERE {pcol} = {part_val} "
                f"AND NOT coalesce(({cond}), false)"
            )
            _partition_scoped_rewrite(spark, target, pcol, part_val, df)
            return
        df = spark.sql(
            f"SELECT * FROM {target} "
            f"WHERE NOT coalesce(({cond}), false)"
        )
        _copy_on_write(spark, target, df)
        return
    # UPDATE assignments: split on top-level commas before WHERE
    um = _re.match(r"(?is)\s*(.*?)\s+WHERE\s+(.*)", rest, _re.DOTALL)
    if not um:
        raise DialectError("ALTER TABLE ... UPDATE needs WHERE")
    assigns_text, cond_text = um.groups()
    cond = transpile(
        cond_text, resolve_columns=resolver, engine_info=engine_info
    )
    assigns: dict[str, str] = {}
    for part in ("".join(p) for p in _split_commas(_tokens(assigns_text))):
        col, _, expr = part.partition("=")
        col = col.strip()
        if not col or not expr.strip():
            raise DialectError(f"malformed UPDATE assignment: {part!r}")
        assigns[col] = transpile(
            expr, resolve_columns=resolver, engine_info=engine_info
        )
    cols = spark.table(target).columns
    unknown = [c for c in assigns if c not in cols]
    if unknown:
        raise DialectError(f"UPDATE references unknown columns {unknown}")
    proj = ", ".join(
        (
            f"CASE WHEN coalesce(({cond}), false) THEN ({assigns[c]}) "
            f"ELSE {c} END AS {c}"
        )
        if c in assigns
        else c
        for c in cols
    )
    if part_val is not None:
        df = spark.sql(
            f"SELECT {proj} FROM {target} WHERE {pcol} = {part_val}"
        )
        _partition_scoped_rewrite(spark, target, pcol, part_val, df)
        return
    df = spark.sql(f"SELECT {proj} FROM {target}")
    _copy_on_write(spark, target, df)


def _partition_scoped_rewrite(
    spark: "SparkSession", target: str, pcol: str, part: str, df,
) -> None:
    """Rewrite ONE partition's files from ``df`` (that partition's
    surviving/updated rows) — the IN PARTITION mutation path.  Same
    two-phase shape as :func:`_copy_on_write` (stage the new files,
    then swap), but scoped to the partition directory: data read and
    written is proportional to the partition, not the table.  The
    staged files drop the partition column (hive layout — the value
    lives in the directory name)."""
    import glob
    import os
    import shutil
    import tempfile

    base = _table_location(spark, target)
    val = part.strip().strip("'\"")
    pdir = os.path.join(base, f"{pcol}={val}")
    tmp = tempfile.mkdtemp(prefix="ch_mutate_part_")
    rebalanced(df.drop(pcol)).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(pdir, ignore_errors=True)
    os.makedirs(pdir, exist_ok=True)
    for f in glob.glob(os.path.join(tmp, "*")):
        if os.path.basename(f).startswith("_"):
            continue
        shutil.move(f, os.path.join(pdir, os.path.basename(f)))
    spark.sql(f"REFRESH TABLE {target}")


def _clear_column_in_partition(
    spark: "SparkSession", target: str, colname: str, part: str,
) -> None:
    """CLEAR COLUMN (see the script-runner branch): type-default the
    column within one partition via the partition-scoped rewrite."""
    import clickhouse_vs_dbt_spark.ddl as _ddl

    info = _ddl.lookup_engine_info(target)
    pcol = getattr(info, "partition_by", None) if info else None
    if not pcol:
        raise DialectError(
            f"CLEAR COLUMN on {target} needs the table's plain-column "
            "PARTITION BY from its CREATE TABLE"
        )
    dtypes = dict(spark.table(target).dtypes)
    if colname not in dtypes:
        raise DialectError(
            f"column {colname} does not exist in {target}"
        )
    if colname == pcol:
        raise DialectError(
            "cannot CLEAR the partition column itself"
        )
    t = dtypes[colname]
    zero = _CH_TYPE_ZERO.get(t.upper().split("(")[0], "0")
    sel = ", ".join(
        f"CAST(({zero}) AS {t}) AS {c}" if c == colname else c
        for c in dtypes
    )
    df = spark.sql(
        f"SELECT {sel} FROM {target} WHERE {pcol} = {part}"
    )
    _partition_scoped_rewrite(spark, target, pcol, part, df)


def _freeze_partition(
    spark: "SparkSession", target: str, part: str | None,
) -> str:
    """FREEZE [PARTITION p] (see the script-runner branch): snapshot
    partition directories into ``<table>/.shadow/<increment>/``,
    returning the snapshot path."""
    import clickhouse_vs_dbt_spark.ddl as _ddl

    loc = _table_location_uri(spark, target)
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    FileUtil = jvm.org.apache.hadoop.fs.FileUtil
    root = HPath(loc)
    fs = root.getFileSystem(conf)
    shadow = HPath(f"{loc}/.shadow")
    n = 0
    while fs.exists(HPath(f"{loc}/.shadow/{n}")):
        n += 1
    snap = HPath(f"{loc}/.shadow/{n}")
    fs.mkdirs(snap)
    if part is not None:
        info = _ddl.lookup_engine_info(target)
        pcol = getattr(info, "partition_by", None) if info else None
        if not pcol:
            raise DialectError(
                f"FREEZE PARTITION on {target} needs the table's "
                "plain-column PARTITION BY from its CREATE TABLE"
            )
        val = part.strip().strip("'\"")
        src = HPath(f"{loc}/{pcol}={val}")
        if not fs.exists(src):
            raise DialectError(
                f"{target} has no partition {pcol} = {part} to freeze"
            )
        srcs = [src]
    else:
        srcs = [
            st.getPath()
            for st in fs.listStatus(root)
            if st.isDirectory()
            and not st.getPath().getName().startswith(".")
        ]
    for src in srcs:
        FileUtil.copy(
            fs, src, fs, HPath(f"{snap.toString()}/{src.getName()}"),
            False, conf,
        )
    return snap.toString()


def _move_detached_partition(
    spark: "SparkSession", target: str, pcol: str, part: str,
    detach: bool,
) -> None:
    """DETACH/ATTACH PARTITION support (see the script-runner branch):
    rename ``<table>/<pcol>=<v>`` to/from ``<table>/.detached/`` via
    the table's own Hadoop FileSystem (works for any scheme the table
    lives on), then drop/add the partition in the catalog."""
    loc = _table_location_uri(spark, target)
    val = part.strip().strip("'\"")
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    live = HPath(f"{loc}/{pcol}={val}")
    parked = HPath(f"{loc}/.detached/{pcol}={val}")
    fs = live.getFileSystem(conf)
    src, dst = (live, parked) if detach else (parked, live)
    if not fs.exists(src):
        raise DialectError(
            f"partition {pcol} = {part} has no "
            f"{'live' if detach else 'detached'} directory at "
            f"{src.toString()}"
        )
    if fs.exists(dst):
        raise DialectError(
            f"{'detached' if detach else 'live'} partition "
            f"{pcol} = {part} already exists at {dst.toString()}"
        )
    fs.mkdirs(dst.getParent())
    if not fs.rename(src, dst):
        raise DialectError(
            f"filesystem refused to move {src.toString()} → "
            f"{dst.toString()}"
        )
    if detach:
        spark.sql(
            f"ALTER TABLE {target} DROP IF EXISTS "
            f"PARTITION ({pcol} = {part})"
        )
    else:
        spark.sql(
            f"ALTER TABLE {target} ADD IF NOT EXISTS "
            f"PARTITION ({pcol} = {part})"
        )
    spark.sql(f"REFRESH TABLE {target}")


#: DETACH TABLE stash: name → (SHOW CREATE TABLE text, location URI,
#: partitioned flag).  Session-lifetime, like ClickHouse's in-memory
#: detached set (PERMANENTLY persists across server restarts there;
#: here both forms live until ATTACH or process end).
_DETACHED_TABLES: dict[str, tuple[str, str, bool]] = {}


def _detach_table(spark: "SparkSession", target: str) -> None:
    """DETACH TABLE (VERDICT r11 item 5, flips the r6 refusal): drop
    the catalog entry but KEEP the data — ClickHouse's
    metadata-lifecycle contract.  Spark's DROP TABLE deletes a
    managed table's storage, so the data directory is first renamed
    to ``<location>.detached`` through the table's own Hadoop
    FileSystem (any scheme), then the entry is dropped; the captured
    ``SHOW CREATE TABLE`` text + location go to the stash for
    ATTACH.  O(1) metadata + one directory rename, no data scan —
    the same cost contract as the partition DETACH."""
    name = target.strip("`")
    if not spark.catalog.tableExists(name):
        raise DialectError(f"DETACH TABLE: no table {name!r}")
    if name in _DETACHED_TABLES:
        raise DialectError(
            f"DETACH TABLE: {name!r} already has a detached image"
        )
    create = str(
        spark.sql(f"SHOW CREATE TABLE {name}").collect()[0][0]
    )
    loc = _table_location_uri(spark, name)
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    live = HPath(loc)
    parked = HPath(loc.rstrip("/") + ".detached")
    fs = live.getFileSystem(conf)
    if fs.exists(parked):
        raise DialectError(
            f"DETACH TABLE: stale detached directory at "
            f"{parked.toString()}"
        )
    moved = fs.exists(live) and fs.rename(live, parked)
    if fs.exists(live) and not moved:
        raise DialectError(
            f"filesystem refused to move {loc} aside for DETACH"
        )
    spark.sql(f"DROP TABLE {name}")
    _DETACHED_TABLES[name] = (
        create, loc, "PARTITIONED BY" in create.upper()
    )


def _attach_table(spark: "SparkSession", target: str) -> None:
    """ATTACH TABLE: move the parked data directory back and replay
    the captured CREATE TABLE (partitioned tables re-register their
    directories via RECOVER PARTITIONS).  Only tables detached in
    this session attach by bare name — ClickHouse's bare ATTACH
    reads server-local metadata that has no Spark twin, so unknown
    names refuse with the full-definition pointer."""
    name = target.strip("`")
    st = _DETACHED_TABLES.get(name)
    if st is None:
        raise DialectError(
            f"ATTACH TABLE: {name!r} has no detached image in this "
            "session — use CREATE TABLE (the DDL front door) with "
            "the original definition to register over existing data"
        )
    create, loc, partitioned = st
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    live = HPath(loc)
    parked = HPath(loc.rstrip("/") + ".detached")
    fs = live.getFileSystem(conf)
    if fs.exists(parked) and fs.exists(live):
        raise DialectError(
            f"ATTACH TABLE: both live and detached directories "
            f"exist for {name!r}"
        )
    if not fs.exists(parked) and not fs.exists(live):
        # the parked '.detached' directory vanished (removed
        # externally) and no live data survives: proceeding would
        # attach the CREATE's EMPTY skeleton and mask the data loss
        # as success (ADVICE r12).  Keep the stash entry so the
        # failure is re-diagnosable.
        raise DialectError(
            f"ATTACH TABLE: detached data directory "
            f"{parked.toString()} is missing and no live data "
            f"remains for {name!r} — refusing to attach an empty "
            f"table over lost data"
        )
    # create FIRST (a managed CREATE refuses over an existing
    # location), then swap the parked data directory back in place
    # of whatever empty directory the create laid down — the table
    # stays managed, so a later DROP keeps ClickHouse's
    # drop-removes-data semantics
    spark.sql(create)
    if fs.exists(parked):
        if fs.exists(live):
            fs.delete(live, True)  # the create's empty skeleton
        if not fs.rename(parked, live):
            raise DialectError(
                f"filesystem refused to restore {loc} for ATTACH"
            )
    if partitioned:
        spark.sql(f"ALTER TABLE {name} RECOVER PARTITIONS")
    spark.sql(f"REFRESH TABLE {name}")
    del _DETACHED_TABLES[name]


def _attach_table_full(
    spark: "SparkSession", target: str, stmt: str
) -> None:
    """Full-definition ``ATTACH TABLE t (cols…) ENGINE = …`` (VERDICT
    r12 item 5): compose a CREATE from the inline definition —
    through the DDL front door, so engine info (ORDER BY / SAMPLE BY
    / MergeTree family) registers for FINAL/SAMPLE — with the bare
    form's park-and-restore directory adoption.  With a parked image
    (this session's DETACH), the INLINE definition replaces the
    captured one — the backup/restore runbook spelling — and the data
    directory is adopted at whatever location the new CREATE
    resolves.  With no parked image the statement degrades to the
    CREATE alone (ClickHouse's attach-over-an-empty-directory is an
    empty table).  The CREATE runs before any directory move, so a
    bad definition leaves both the stash and the parked data intact."""
    from clickhouse_vs_dbt_spark import ddl as _ddl

    name = target.strip("`")
    if spark.catalog.tableExists(name):
        raise DialectError(
            f"ATTACH TABLE: {name!r} already exists — ClickHouse "
            "errors here; write ATTACH TABLE IF NOT EXISTS to keep "
            "the live table"
        )
    create_stmt = re.sub(
        r"(?is)^\s*ATTACH\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?",
        "CREATE TABLE ", stmt, count=1,
    )
    out_ddl = _ddl.transpile_ddl(create_stmt)
    st = _DETACHED_TABLES.get(name)
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    if st is not None:
        # this session's stash pins the parked location; the INLINE
        # definition supersedes the captured one
        parked = HPath(st[1].rstrip("/") + ".detached")
        fs = parked.getFileSystem(conf)
        if not fs.exists(parked):
            raise DialectError(
                f"ATTACH TABLE: detached data directory "
                f"{parked.toString()} is missing for {name!r} — "
                "refusing to attach an empty table over lost data"
            )
    if out_ddl:
        spark.sql(out_ddl)
    # adopt at the location the NEW create resolved; with no stash
    # (cross-session/restart restore — code-review r13a) a
    # '<loc>.detached' directory sitting beside the create's
    # location is adopted the same way, matching ClickHouse's
    # attach-over-existing-data contract.  No parked directory at
    # all = the empty CREATE (CH attach-over-empty-directory).
    loc = _table_location_uri(spark, name)
    live = HPath(loc)
    fs = live.getFileSystem(conf)
    if st is None:
        parked = HPath(loc.rstrip("/") + ".detached")
    if fs.exists(parked):
        if fs.exists(live):
            fs.delete(live, True)  # the create's empty skeleton
        if not fs.rename(parked, live):
            raise DialectError(
                f"filesystem refused to restore {live.toString()} "
                "for ATTACH"
            )
        if "PARTITIONED BY" in (out_ddl or "").upper():
            spark.sql(f"ALTER TABLE {name} RECOVER PARTITIONS")
        spark.sql(f"REFRESH TABLE {name}")
    _DETACHED_TABLES.pop(name, None)


def _table_location_uri(spark: "SparkSession", target: str) -> str:
    """Schemed storage URI (``file:/…``, ``s3a://…``) — for Hadoop
    FileSystem operations, where the scheme picks the filesystem.
    The scheme-stripped :func:`_table_location` serves the local
    glob/shutil callers instead."""
    for row in spark.sql(f"DESCRIBE FORMATTED {target}").collect():
        if str(row[0]).strip() == "Location":
            return str(row[1]).strip()
    raise DialectError(f"{target} has no resolvable storage location")


def _copy_partition_between(
    spark: "SparkSession", dst_t: str, src_t: str, part: str, mode: str,
) -> None:
    """Cross-table partition lifecycle (ClickHouse ALTER TABLE forms):
    ``attach_from`` copies the partition directory (source keeps its
    data), ``replace`` drops the destination partition first then
    copies, ``move`` renames the directory across table locations and
    unregisters it at the source.  Same-structure tables only — CH's
    own precondition."""
    import clickhouse_vs_dbt_spark.ddl as _ddl

    cols = {}
    for t in (dst_t, src_t):
        info = _ddl.lookup_engine_info(t)
        pcol = getattr(info, "partition_by", None) if info else None
        if not pcol:
            raise DialectError(
                f"{mode.upper().replace('_', ' ')} PARTITION needs "
                f"{t}'s plain-column PARTITION BY from its CREATE "
                "TABLE (run the DDL through the front door)"
            )
        cols[t] = pcol
    if cols[dst_t] != cols[src_t]:
        raise DialectError(
            f"partition keys differ: {dst_t} is partitioned by "
            f"{cols[dst_t]}, {src_t} by {cols[src_t]}"
        )
    if spark.table(dst_t).schema != spark.table(src_t).schema:
        raise DialectError(
            f"{dst_t} and {src_t} have different structures — "
            "ClickHouse requires identical structure for partition "
            "exchange"
        )
    pcol, val = cols[dst_t], part.strip().strip("'\"")
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    src = HPath(f"{_table_location_uri(spark, src_t)}/{pcol}={val}")
    dst = HPath(f"{_table_location_uri(spark, dst_t)}/{pcol}={val}")
    fs = src.getFileSystem(conf)
    if not fs.exists(src):
        raise DialectError(
            f"{src_t} has no partition {pcol} = {part} at "
            f"{src.toString()}"
        )
    if fs.exists(dst):
        if mode == "replace":
            spark.sql(
                f"ALTER TABLE {dst_t} DROP IF EXISTS "
                f"PARTITION ({pcol} = {part})"
            )
            fs.delete(dst, True)
        else:
            raise DialectError(
                f"{dst_t} already has partition {pcol} = {part}; "
                "append-attach into an existing partition is not "
                "supported — use REPLACE PARTITION ... FROM or "
                "INSERT ... SELECT"
            )
    if mode == "move":
        if not fs.rename(src, dst):
            raise DialectError(
                f"filesystem refused to move {src.toString()} → "
                f"{dst.toString()}"
            )
        spark.sql(
            f"ALTER TABLE {src_t} DROP IF EXISTS "
            f"PARTITION ({pcol} = {part})"
        )
    else:
        FileUtil = jvm.org.apache.hadoop.fs.FileUtil
        if not FileUtil.copy(fs, src, fs, dst, False, conf):
            raise DialectError(
                f"filesystem refused to copy {src.toString()} → "
                f"{dst.toString()}"
            )
    spark.sql(
        f"ALTER TABLE {dst_t} ADD IF NOT EXISTS "
        f"PARTITION ({pcol} = {part})"
    )
    spark.sql(f"REFRESH TABLE {dst_t}")
    spark.sql(f"REFRESH TABLE {src_t}")


def run_clickhouse_script(
    spark: SparkSession,
    script: str,
    path_overrides: dict[str, str] | None = None,
    overwrite_existing: bool = False,
):
    """Run a multi-statement ClickHouse script — the migration-runbook
    front door: paste a ClickHouse init file (CREATE TABLE DDL,
    CREATE MATERIALIZED VIEW, queries) and it executes end-to-end.

    Routing per statement: ``CREATE MATERIALIZED VIEW`` →
    :func:`ddl.transpile_materialized_view` + POPULATE (the view name
    becomes queryable); ``CREATE TABLE`` → :func:`ddl.transpile_ddl`
    (engine metadata registered, so later ``FROM t FINAL`` statements
    in the same script work); ``INSERT INTO t …`` → the insert runs
    AND every materialized view created earlier in the script whose
    source is ``t`` folds the inserted block into its state —
    ClickHouse's MV insert-trigger contract; everything else →
    :func:`transpile` with the catalog resolver.  ``path_overrides``
    maps table name → storage path for relocating S3/MergeTree DDL.
    ``CREATE TABLE`` honors ClickHouse's own existence semantics —
    plain CREATE raises on an existing table, ``IF NOT EXISTS`` keeps
    it untouched; pass ``overwrite_existing=True`` for the explicit
    drop-and-recreate runbook behavior.  ``DROP TABLE`` invalidates
    the table's registered engine metadata.
    Returns the list of (statement-kind, name-or-DataFrame) results;
    the last SELECT's DataFrame is the conventional script result."""
    import re as _re

    from clickhouse_vs_dbt_spark import ddl as _ddl

    register_clickhouse_compat(spark)
    resolver = catalog_resolver(spark)
    engine_info = _ddl.lookup_engine_info
    mvs: list = []
    results = []
    for stmt in split_statements(script):
        # leading comments would defeat statement classification (and
        # the DDL shape regexes) — drop them; inline/trailing comments
        # stay with the statement body
        toks = _tokens(stmt)
        stmt = "".join(toks[_next_code(toks, 0):])
        if not stmt:
            continue
        if _re.match(r"(?is)\s*CREATE\s+DICTIONARY", stmt):
            src = _ddl.transpile_dictionary(stmt)
            results.append(("dictionary", src))
        elif _re.match(r"(?is)\s*CREATE\s+MATERIALIZED\s+VIEW", stmt):
            mv = _ddl.transpile_materialized_view(stmt)
            # ClickHouse semantics: only POPULATE backfills existing
            # rows; otherwise the MV starts empty and sees inserts only
            if getattr(mv, "populate_requested", False):
                mv.populate(spark)
            mvs.append(mv)
            results.append(("materialized_view", mv))
        elif _re.match(r"(?is)\s*CREATE\s+TABLE", stmt):
            ine = bool(
                _re.match(r"(?is)\s*CREATE\s+TABLE\s+IF\s+NOT\s+EXISTS", stmt)
            )
            name = _re.sub(
                r"(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?", "", stmt
            ).split()[0].split("(")[0]
            override = (path_overrides or {}).get(
                name.split(".")[-1].strip("`")
            )
            # honor the statement's own semantics (ClickHouse: plain
            # CREATE errors on an existing table; IF NOT EXISTS keeps
            # it); overwrite_existing=True is the explicit runbook
            # opt-in to drop-and-recreate
            exists = spark.catalog.tableExists(name.strip("`"))
            if exists and not overwrite_existing:
                if ine:
                    results.append(("table", name))
                    continue
                raise DialectError(
                    f"table {name} already exists (ClickHouse CREATE "
                    "TABLE errors here); write CREATE TABLE IF NOT "
                    "EXISTS to keep it, or pass "
                    "overwrite_existing=True to drop and recreate"
                )
            if exists:
                spark.sql(f"DROP TABLE IF EXISTS {name}")
                _ddl.unregister_engine_info(name)
            out_ddl = _ddl.transpile_ddl(stmt, path_override=override)
            if out_ddl:  # ENGINE=Kafka registers a readStream
                spark.sql(out_ddl)  # source and emits no batch DDL
            results.append(("table", name))
        elif (
            vm := _re.match(
                r"(?is)\s*CREATE\s+(OR\s+REPLACE\s+)?(TEMPORARY\s+)?"
                r"VIEW\s+",
                stmt,
            )
        ) is not None:
            # views are session-scoped here: the script's sources are
            # session (temp) views, and Spark refuses a persistent
            # view over temporary objects
            out = transpile(
                stmt, resolve_columns=resolver, engine_info=engine_info
            )
            if not vm.group(2):
                out = _re.sub(
                    r"(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW",
                    lambda m: "CREATE "
                    + (m.group(1) or "")
                    + "TEMPORARY VIEW",
                    out,
                    count=1,
                )
            spark.sql(out)
            vname = stmt[vm.end():].split()[0].split("(")[0]
            results.append(("view", vname))
        elif (
            dm := _re.match(
                r"(?is)\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?"
                r"([A-Za-z_][A-Za-z0-9_.`]*)\s*$",
                stmt,
            )
        ) is not None:
            name = dm.group(2)
            if _ddl.lookup_kafka_info(name) is not None:
                # a Kafka queue has no backing Spark table — dropping
                # it just detaches the registered stream source
                _ddl.unregister_kafka_info(name)
                results.append(("drop", name))
                continue
            if not dm.group(1) and not spark.catalog.tableExists(
                name.strip("`")
            ):
                raise DialectError(f"DROP TABLE: {name} does not exist")
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            _ddl.unregister_engine_info(name)
            results.append(("drop", name))
        elif (
            im := _re.match(
                r"(?is)\s*INSERT\s+INTO\s+(?:TABLE\s+)?"
                r"([A-Za-z_][A-Za-z0-9_.`]*)\s*(.*)",
                stmt,
                _re.DOTALL,
            )
        ) is not None:
            target, body = im.group(1), im.group(2)
            if _ddl.lookup_kafka_info(target) is not None:
                # CH INSERT INTO a Kafka table PRODUCES to the topic —
                # a broker write this batch runner does not own
                raise DialectError(
                    f"INSERT INTO {target}: a Kafka engine table is a "
                    "topic producer — write the DataFrame with "
                    "df.write/writeStream.format('kafka') (or feed "
                    "the attached MV through "
                    "streaming.kafka_source.kafka_read_stream)"
                )
            cols = spark.table(target).columns
            # optional explicit column list: must cover every table
            # column (ClickHouse would fill defaults; Spark inserts
            # are full-row)
            cm = _re.match(r"(?s)\s*\(([^)]*)\)\s*(.*)", body)
            ins_cols = cols
            if cm and _re.match(
                r"(?is)\s*(SELECT|VALUES|WITH)\b", cm.group(2)
            ):
                ins_cols = [c.strip() for c in cm.group(1).split(",")]
                body = cm.group(2)
                if sorted(ins_cols) != sorted(cols):
                    raise DialectError(
                        f"INSERT column list must cover all of "
                        f"{target}'s columns (partial inserts would "
                        "need ClickHouse default-fill)"
                    )
            if not _re.match(r"(?is)\s*(SELECT|VALUES|WITH)\b", body):
                raise DialectError(
                    "INSERT body must be SELECT/VALUES/WITH"
                )
            # the inserted block, as a DataFrame: VALUES and SELECT
            # bodies are both SELECT-able — the same rows the insert
            # writes are what the MV triggers fold
            body_sql = transpile(
                body, resolve_columns=resolver, engine_info=engine_info
            )
            batch = spark.sql(
                body_sql
                if _re.match(r"(?is)\s*(SELECT|WITH)\b", body_sql)
                else f"SELECT * FROM ({body_sql})"
            )
            batch = batch.toDF(*ins_cols).select(*cols)
            # REBALANCE keyed by the table's PARTITION BY column when
            # it has one (one right-sized file per partition instead
            # of one per task × partition — catalog.rebalanced)
            info = _ddl.lookup_engine_info(target)
            pcol = getattr(info, "partition_by", None) if info else None
            # partition_by is captured at CREATE time and not updated
            # by ALTER ... RENAME COLUMN — validate against the
            # batch's live columns so a renamed partition column
            # degrades to an unkeyed rebalance instead of failing
            # analysis on a stale name (ADVICE r16)
            if pcol and pcol not in batch.columns:
                pcol = None
            rebalanced(batch, *((pcol,) if pcol else ())).write.insertInto(
                target
            )
            short = target.split(".")[-1].strip("`")
            fired = []
            for mv in mvs:
                if mv.source.split(".")[-1].strip("`") == short:
                    mv.apply_batch(spark, batch)
                    fired.append(mv.name)
            results.append(("insert", (target, fired)))
        elif (
            am := _re.match(
                r"(?is)\s*ALTER\s+TABLE\s+([A-Za-z_][A-Za-z0-9_.`]*)\s+"
                r"(DELETE|UPDATE)\s+(.*)",
                stmt,
                _re.DOTALL,
            )
        ) is not None:
            _apply_mutation(
                spark, am.group(1), am.group(2), am.group(3),
                resolver, engine_info,
            )
            results.append(("mutation", (am.group(1), am.group(2).upper())))
        elif (
            ld := _re.match(
                r"(?is)\s*DELETE\s+FROM\s+([A-Za-z_][A-Za-z0-9_.`]*)"
                r"\s+(WHERE\s+.*)$",
                stmt,
                _re.DOTALL,
            )
        ) is not None:
            # ClickHouse 23+ lightweight DELETE — same relational
            # effect as ALTER TABLE ... DELETE; served by the same
            # copy-on-write mutation (parquet tables have no row-level
            # delete)
            _apply_mutation(
                spark, ld.group(1), "DELETE", ld.group(2),
                resolver, engine_info,
            )
            results.append(("mutation", (ld.group(1), "DELETE")))
        elif (
            sc := _re.match(
                r"(?is)\s*ALTER\s+TABLE\s+([A-Za-z_][A-Za-z0-9_.`]*)\s+"
                r"(ADD|DROP|MODIFY|RENAME)\s+COLUMN\s+(.*)",
                stmt,
                _re.DOTALL,
            )
        ) is not None:
            _apply_schema_change(
                spark, sc.group(1), sc.group(2), sc.group(3),
                resolver, engine_info,
            )
            results.append(
                ("schema_change", (sc.group(1), sc.group(2).upper()))
            )
        elif (
            xp := _re.match(
                r"(?is)\s*ALTER\s+TABLE\s+([A-Za-z_][A-Za-z0-9_.`]*)"
                r"\s+(ATTACH|REPLACE)\s+PARTITION\s+(.+?)\s+FROM\s+"
                r"([A-Za-z_][A-Za-z0-9_.`]*)\s*$",
                stmt,
            )
        ) is not None:
            # cross-table partition lifecycle: ATTACH ... FROM copies
            # the partition (source keeps it), REPLACE ... FROM drops
            # the destination's partition first (CH semantics)
            dst_t, verb, part, src_t = xp.groups()
            mode = "attach_from" if verb.upper() == "ATTACH" else "replace"
            _copy_partition_between(spark, dst_t, src_t, part, mode)
            results.append((f"{mode}_partition", (dst_t, src_t, part)))
        elif (
            mvp := _re.match(
                r"(?is)\s*ALTER\s+TABLE\s+([A-Za-z_][A-Za-z0-9_.`]*)"
                r"\s+MOVE\s+PARTITION\s+(.+?)\s+TO\s+TABLE\s+"
                r"([A-Za-z_][A-Za-z0-9_.`]*)\s*$",
                stmt,
            )
        ) is not None:
            # MOVE ... TO TABLE renames the directory across table
            # locations — the source loses the partition
            src_t, part, dst_t = mvp.groups()
            _copy_partition_between(spark, dst_t, src_t, part, "move")
            results.append(("move_partition", (src_t, dst_t, part)))
        elif (
            cc := _re.match(
                r"(?is)\s*ALTER\s+TABLE\s+([A-Za-z_][A-Za-z0-9_.`]*)"
                r"\s+CLEAR\s+COLUMN\s+(?:IF\s+EXISTS\s+)?"
                r"([A-Za-z_][\w]*)\s+IN\s+PARTITION\s+(.+?)\s*$",
                stmt,
            )
        ) is not None:
            # CLEAR COLUMN c IN PARTITION p — reset the column to its
            # TYPE DEFAULT (CH's 0/''/epoch rule, the ADD COLUMN fill)
            # in that partition only; same partition-scoped rewrite as
            # the IN PARTITION mutations
            target, colname, part = cc.groups()
            _clear_column_in_partition(spark, target, colname, part)
            results.append(("clear_column", (target, colname, part)))
        elif (
            fz := _re.match(
                r"(?is)\s*ALTER\s+TABLE\s+([A-Za-z_][A-Za-z0-9_.`]*)"
                r"\s+FREEZE(?:\s+PARTITION\s+(.+?))?\s*$",
                stmt,
            )
        ) is not None:
            # FREEZE [PARTITION p] — CH's backup snapshot into
            # shadow/: copy the partition directory (or every
            # partition) into the table's `.shadow/<n>/`.  CH
            # hardlinks; a generic FileSystem has no hardlink
            # contract, so this is a copy of that slice — same
            # restore semantics (the snapshot is immutable once
            # taken), cost proportional to the frozen slice.
            target, part = fz.group(1), fz.group(2)
            snap = _freeze_partition(spark, target, part)
            results.append(("freeze", (target, snap)))
        elif _re.match(
            r"(?is)\s*ALTER\s+TABLE\s+[A-Za-z_][A-Za-z0-9_.`]*"
            r"\s+FETCH\s+PARTITION\b",
            stmt,
        ):
            raise DialectError(
                "FETCH PARTITION pulls a partition from a ClickHouse "
                "replica; there are no replicas here — use ATTACH "
                "PARTITION ... FROM <table> (runs) or read the remote "
                "data as an external table (ENGINE = S3 / file())"
            )
        elif (
            dp := _re.match(
                r"(?is)\s*ALTER\s+TABLE\s+([A-Za-z_][A-Za-z0-9_.`]*)"
                r"\s+(DROP|DETACH|ATTACH)\s+PARTITION\s+(.+?)\s*$",
                stmt,
            )
        ) is not None:
            # partition lifecycle — the retention statements every CH
            # deployment runs.  DROP PARTITION maps to Spark's own
            # partition drop on the PARTITION BY column the DDL
            # captured (metadata-only, no data rewrite — the same
            # O(1) part-unlink contract as ClickHouse).  DETACH moves
            # the partition directory into the table's `.detached/`
            # (dot-prefixed — invisible to Spark's file listings,
            # ClickHouse's own detached/ convention) and unregisters
            # the partition; ATTACH moves it back and re-registers.
            # The move is a filesystem RENAME: O(1) metadata on
            # HDFS/local; on object stores it is a server-side copy
            # of that partition's objects only (documented cost).
            target, verb, part = dp.group(1), dp.group(2), dp.group(3)
            verb = verb.upper()
            info = _ddl.lookup_engine_info(target)
            pcol = getattr(info, "partition_by", None) if info else None
            if not pcol:
                raise DialectError(
                    f"{verb} PARTITION on {target} needs the table's "
                    "plain-column PARTITION BY from its CREATE TABLE "
                    "(run the DDL through the front door); "
                    "expression partitions have no Spark partition "
                    "mapping — use ALTER TABLE ... DELETE WHERE"
                )
            part = part.strip()
            if verb == "DROP":
                spark.sql(
                    f"ALTER TABLE {target} DROP IF EXISTS "
                    f"PARTITION ({pcol} = {part})"
                )
                results.append(("drop_partition", (target, part)))
            else:
                _move_detached_partition(
                    spark, target, pcol, part, detach=(verb == "DETACH")
                )
                results.append(
                    (f"{verb.lower()}_partition", (target, part))
                )
        elif _re.match(
            r"(?is)\s*ALTER\s+TABLE\s+[A-Za-z_][A-Za-z0-9_.`]*\s+"
            r"(ADD|DROP|MATERIALIZE|CLEAR)\s+(PROJECTION|INDEX)\s+",
            stmt,
        ):
            # projections / data-skipping indexes are physical-layout
            # accelerators with no result-set content: parquet
            # min/max + dictionary stats and operators/zorder.py
            # already serve the skip role, materialized views the
            # projection role — recorded no-op, same contract as the
            # CREATE TABLE-level INDEX/PROJECTION drop
            results.append(("layout_noop", stmt.split(";")[0][:80]))
        elif (
            rn := _re.match(r"(?is)\s*RENAME\s+TABLE\s+(.*)$", stmt)
        ) is not None:
            for pair in rn.group(1).split(","):
                pm = _re.match(
                    r"(?is)\s*([A-Za-z_][A-Za-z0-9_.`]*)\s+TO\s+"
                    r"([A-Za-z_][A-Za-z0-9_.`]*)\s*$",
                    pair,
                )
                if not pm:
                    raise DialectError("RENAME TABLE: expected 'a TO b[, …]'")
                old, new = pm.group(1), pm.group(2)
                info = _ddl.lookup_engine_info(old)
                spark.sql(f"ALTER TABLE {old} RENAME TO {new}")
                _ddl.unregister_engine_info(old)
                if info is not None:
                    _ddl.register_engine_info(new, info)
                results.append(("rename", (old, new)))
        elif (
            tm := _re.match(
                r"(?is)\s*TRUNCATE\s+TABLE\s+(IF\s+EXISTS\s+)?"
                r"([A-Za-z_][A-Za-z0-9_.`]*)\s*$",
                stmt,
            )
        ) is not None:
            name = tm.group(2)
            if not spark.catalog.tableExists(name.strip("`")):
                if not tm.group(1):
                    raise DialectError(f"TRUNCATE TABLE: {name} does not exist")
            else:
                try:
                    spark.sql(f"TRUNCATE TABLE {name}")
                except Exception:
                    # Spark refuses TRUNCATE on external (location-
                    # pinned) tables; the file swap is the same
                    # operation ClickHouse performs
                    _copy_on_write(spark, name, spark.table(name).limit(0))
            results.append(("truncate", name))
        elif (
            om := _re.match(
                r"(?is)\s*OPTIMIZE\s+TABLE\s+"
                r"([A-Za-z_][A-Za-z0-9_.`]*)\s*(FINAL)?\s*$",
                stmt,
            )
        ) is not None:
            # OPTIMIZE TABLE = compaction (content-identical file
            # rewrite); OPTIMIZE ... FINAL additionally forces the
            # engine merge-collapse — for a ReplacingMergeTree /
            # VersionedCollapsing table with registered DDL the
            # collapsed relation replaces the stored rows, exactly
            # ClickHouse's forced merge
            target = om.group(1)
            if om.group(2):
                collapsed = transpile(
                    f"SELECT * FROM {target} FINAL",
                    resolve_columns=resolver,
                    engine_info=engine_info,
                )
                df = spark.sql(collapsed)
            else:
                df = spark.table(target)
            n_files = max(1, len(spark.table(target).inputFiles()) // 4)
            _copy_on_write(spark, target, df.coalesce(n_files))
            results.append(
                ("optimize", (target, bool(om.group(2))))
            )
        elif (
            ex := _re.match(
                r"(?is)\s*EXCHANGE\s+TABLES\s+"
                r"([A-Za-z_][A-Za-z0-9_.`]*)\s+AND\s+"
                r"([A-Za-z_][A-Za-z0-9_.`]*)\s*$",
                stmt,
            )
        ) is not None:
            # the blue/green reload idiom: build into a staging
            # table, EXCHANGE, drop the old.  Spark has no atomic
            # two-table swap, so this is three renames through a
            # temp name — same end state; the non-atomic window is
            # documented (ClickHouse's own EXCHANGE needs Atomic
            # databases to be atomic)
            a, b = ex.group(1), ex.group(2)
            for t in (a, b):
                if not spark.catalog.tableExists(t.strip("`")):
                    raise DialectError(
                        f"EXCHANGE TABLES: {t} does not exist"
                    )
            tmp = f"__exchange_tmp_{a.split('.')[-1].strip('`')}"
            spark.sql(f"DROP TABLE IF EXISTS {tmp}")
            spark.sql(f"ALTER TABLE {a} RENAME TO {tmp}")
            spark.sql(f"ALTER TABLE {b} RENAME TO {a}")
            spark.sql(f"ALTER TABLE {tmp} RENAME TO {b}")
            ia = _ddl.lookup_engine_info(a)
            ib = _ddl.lookup_engine_info(b)
            _ddl.unregister_engine_info(a)
            _ddl.unregister_engine_info(b)
            if ib is not None:
                _ddl.register_engine_info(a, ib)
            if ia is not None:
                _ddl.register_engine_info(b, ia)
            results.append(("exchange", (a, b)))
        elif (
            sm := _re.match(
                r"(?is)\s*SET\s+([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+?)"
                r"\s*$",
                stmt,
            )
        ) is not None:
            # performance-tuning settings have no semantic content —
            # Spark owns its own scheduling/memory — so they no-op
            # (recorded); settings that CHANGE RESULTS refuse rather
            # than silently diverge
            setting = sm.group(1).lower()
            perf_only = setting in (
                "max_threads", "max_memory_usage", "max_block_size",
                "max_execution_time", "max_insert_threads",
                "max_bytes_before_external_group_by",
                "max_bytes_before_external_sort",
                "optimize_read_in_order", "use_uncompressed_cache",
                "distributed_product_mode", "prefer_localhost_replica",
                "send_logs_level", "log_queries",
                "allow_experimental_analyzer",
            )
            if not perf_only:
                raise DialectError(
                    f"SET {setting} may change query results (e.g. "
                    "join_use_nulls, aggregate_functions_null_for_"
                    "empty); only performance-tuning settings no-op "
                    "here — remove the SET or port its intent"
                )
            results.append(("set_noop", (setting, sm.group(2))))
        elif _re.match(r"(?is)\s*SYSTEM\s+", stmt):
            op = " ".join(stmt.split()[1:3]).upper().rstrip(";")
            if any(
                op.startswith(p)
                for p in ("FLUSH", "RELOAD", "DROP DNS", "DROP MARK",
                          "DROP UNCOMPRESSED")
            ):
                # cache/log maintenance: nothing to maintain here
                results.append(("system_noop", op))
            else:
                raise DialectError(
                    f"SYSTEM {op} drives ClickHouse server internals "
                    "(merges/replication/fetches) with no Spark "
                    "equivalent; FLUSH/RELOAD/cache-drop forms no-op"
                )
        elif (
            cm2 := _re.match(
                r"(?is)\s*CHECK\s+TABLE\s+"
                r"([A-Za-z_][A-Za-z0-9_.`]*)\s*$",
                stmt,
            )
        ) is not None:
            # ClickHouse returns result=1 when the table's data reads
            # back intact; the Spark equivalent is a full-scan count
            # (any corrupt parquet footer/page throws)
            target = cm2.group(1)
            n = spark.table(target).count()
            df = spark.createDataFrame(
                [(1, n)], "result int, n_rows long"
            )
            results.append(("check", df))
        elif (
            dm2 := _re.match(
                r"(?is)\s*DETACH\s+TABLE\s+(IF\s+EXISTS\s+)?"
                r"([A-Za-z_][A-Za-z0-9_.`]*)"
                r"(\s+PERMANENTLY)?(\s+SYNC)?\s*$",
                stmt,
            )
        ) is not None:
            # park-and-unregister (r12, VERDICT r11 item 5): data
            # stays on disk, catalog entry goes; PERMANENTLY only
            # changes restart behavior in CH — both forms stash until
            # ATTACH here (session-lifetime catalog).  IF EXISTS
            # no-ops on a missing table (code-review r12a: idempotent
            # CH runbooks must not abort mid-script)
            target = dm2.group(2)
            if dm2.group(1) and not spark.catalog.tableExists(
                target.strip("`")
            ):
                results.append(("detach_table_noop", target))
            else:
                _detach_table(spark, target)
                results.append(("detach_table", target))
        elif (
            am2 := _re.match(
                r"(?is)\s*ATTACH\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
                r"([A-Za-z_][A-Za-z0-9_.`]*)\s*$",
                stmt,
            )
        ) is not None:
            # IF NOT EXISTS no-ops when the name already resolves
            target = am2.group(2)
            if am2.group(1) and spark.catalog.tableExists(
                target.strip("`")
            ):
                results.append(("attach_table_noop", target))
            else:
                _attach_table(spark, target)
                results.append(("attach_table", target))
        elif (
            af := _re.match(
                r"(?is)\s*ATTACH\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
                r"([A-Za-z_][A-Za-z0-9_.`]*)\s*\(",
                stmt,
            )
        ) is not None:
            # full-definition ATTACH (r13, VERDICT r12 item 5):
            # CREATE from the inline DDL + adopt the parked directory
            target = af.group(2)
            if af.group(1) and spark.catalog.tableExists(
                target.strip("`")
            ):
                results.append(("attach_table_noop", target))
            else:
                _attach_table_full(spark, target, stmt)
                results.append(("attach_table_full", target))
        elif _re.match(r"(?is)\s*(ATTACH|DETACH)\s+", stmt):
            raise DialectError(
                "bare and full-definition DETACH/ATTACH TABLE map "
                "(park-and-restore over the table's storage; the "
                "inline-DDL form composes CREATE with directory "
                "adoption); this spelling (DETACH DATABASE/VIEW/"
                "DICTIONARY, ATTACH PARTITION without ALTER) manages "
                "ClickHouse server metadata with no Spark twin — use "
                "CREATE TABLE (the DDL front door) / DROP TABLE "
                "instead"
            )
        elif _re.match(r"(?is)\s*KILL\s+", stmt):
            raise DialectError(
                "KILL QUERY/MUTATION targets ClickHouse's process "
                "list; cancel Spark jobs through the SparkContext "
                "(spark.sparkContext.cancelJobGroup) or the UI"
            )
        elif (
            em := _re.match(
                r"(?is)\s*EXPLAIN\s+(AST|SYNTAX|QUERY\s+TREE|PLAN|"
                r"PIPELINE|ESTIMATE)?\s*(SELECT|WITH)(.*)$",
                stmt,
            )
        ) is not None:
            mode = (em.group(1) or "PLAN").strip().upper()
            inner = transpile(
                em.group(2) + em.group(3),
                resolve_columns=resolver,
                engine_info=engine_info,
            )
            if mode == "AST":
                raise DialectError(
                    "EXPLAIN AST is ClickHouse-parser-internal; use "
                    "EXPLAIN SYNTAX (the transpiled Spark SQL) or "
                    "EXPLAIN PLAN (the physical plan)"
                )
            if mode == "SYNTAX":
                # ClickHouse EXPLAIN SYNTAX prints the rewritten
                # query; here that is the transpiled Spark SQL — the
                # single most useful migration view of a statement
                df = spark.createDataFrame(
                    [(inner,)], "explain string"
                )
            else:  # PLAN / PIPELINE / QUERY TREE / ESTIMATE
                df = spark.sql(f"EXPLAIN FORMATTED {inner}")
            results.append(("explain", df))
        else:
            # a registered Kafka queue in a batch query would surface
            # as an opaque table-not-found — refuse with the contract
            # instead (CH direct reads CONSUME the queue; the
            # queryable object is the attached MV).  Only identifiers
            # in TABLE position (immediately after FROM or JOIN)
            # count: a column, alias, or function name that happens to
            # collide with a queue name must not refuse an unrelated
            # query (ADVICE r9).
            stoks = _tokens(stmt)
            # Relation position is tracked PER paren depth (ADVICE
            # r10): a queue referenced inside a subquery or CTE body
            # (SELECT * FROM (SELECT * FROM kafka_q)) must refuse
            # too, so every nesting level carries its own
            # in_from/expect_rel state instead of being skipped.
            in_from = [False]  # inside a FROM list, per depth
            expect_rel = [False]  # next identifier is a relation
            in_call = [False]  # this paren level is a CALL arg list
            _CLAUSE_KW = (
                "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING",
                "WINDOW", "UNION", "INTERSECT", "EXCEPT",
                "SETTINGS", "FORMAT", "SELECT", "ON", "USING",
            )
            # keywords that legitimately precede a '(' WITHOUT making
            # it a function-call arg list (subquery / list contexts)
            _PRE_PAREN_KW = frozenset(
                _CLAUSE_KW + (
                    "FROM", "JOIN", "IN", "EXISTS", "AS", "BY",
                    "VALUES", "ALL", "ANY", "SOME", "AND", "OR",
                    "NOT", "WHEN", "THEN", "ELSE", "CASE", "END",
                    "BETWEEN", "LIKE", "ILIKE", "RLIKE", "IS",
                    "CROSS", "INNER", "LEFT", "RIGHT", "FULL",
                    "OUTER", "SEMI", "ANTI", "LATERAL", "DISTINCT",
                    "WITH", "OFFSET", "ASOF", "GLOBAL", "PASTE",
                )
            )
            prev_code = ""
            ti = 0
            while ti < len(stoks):
                t = stoks[ti]
                if t in ("(", "["):
                    in_from.append(False)
                    expect_rel.append(False)
                    # f( — the level is a call arg list: the keyword
                    # forms extract(YEAR FROM x) / substring(x FROM
                    # 1) / trim(… FROM x) carry a FROM that is NOT
                    # relation position (code-review r11)
                    in_call.append(
                        t == "("
                        and bool(prev_code)
                        and _is_ident(prev_code)
                        and prev_code.upper() not in _PRE_PAREN_KW
                    )
                elif t in (")", "]"):
                    if len(in_from) > 1:
                        in_from.pop()
                        expect_rel.pop()
                        in_call.pop()
                    # a parenthesized relation fills the outer slot
                    # (FROM (SELECT …) alias: the alias is not a
                    # relation)
                    expect_rel[-1] = False
                elif _is_ident(t):
                    up = t.upper()
                    if up in ("FROM", "JOIN") and not in_call[-1]:
                        in_from[-1] = up == "FROM" or in_from[-1]
                        expect_rel[-1] = True
                    elif up in _CLAUSE_KW:
                        in_from[-1] = expect_rel[-1] = False
                    elif expect_rel[-1]:
                        # dotted chain: db.kafka_q must refuse on the
                        # LAST component too (code-review r10)
                        parts = [t]
                        nj = _next_code(stoks, ti + 1)
                        while (
                            nj < len(stoks) and stoks[nj] == "."
                        ):
                            nk = _next_code(stoks, nj + 1)
                            if nk < len(stoks) and _is_ident(stoks[nk]):
                                parts.append(stoks[nk])
                                ti = nk
                                nj = _next_code(stoks, nk + 1)
                            else:
                                break
                        for cand in (".".join(parts), parts[-1]):
                            if _ddl.lookup_kafka_info(cand) is not None:
                                raise DialectError(
                                    f"{cand} is a Kafka engine table "
                                    "— a streaming consumer, not a "
                                    "batch relation (CH direct reads "
                                    "consume the queue); query the "
                                    "attached materialized view, or "
                                    "read the stream with streaming."
                                    "kafka_source.kafka_read_stream"
                                )
                        expect_rel[-1] = False
                elif t == "," and in_from[-1]:
                    # comma-separated FROM list re-arms relation
                    # position (code-review r10)
                    expect_rel[-1] = True
                if not _is_skippable(t):
                    prev_code = t
                ti += 1
            df = spark.sql(
                transpile(
                    stmt,
                    resolve_columns=resolver,
                    engine_info=engine_info,
                )
            )
            results.append(("query", df))
    return results


def run_clickhouse_sql(
    spark: SparkSession, sql: str, sf_dir: str, tables: tuple[str, ...]
) -> DataFrame:
    """One-call front door: register the parquet views and the scalar
    compat UDFs, transpile, execute."""
    from clickhouse_vs_dbt_spark import ddl as _ddl  # lazy: ddl imports us

    register_views(spark, sf_dir, tables)
    register_clickhouse_compat(spark)
    return spark.sql(
        transpile(
            sql,
            resolve_columns=catalog_resolver(spark),
            engine_info=_ddl.lookup_engine_info,
        )
    )


# --- gated proofs: verbatim ClickHouse queries through the front door ---

# 1. aggregate combinators + parametric aggregate + exact-decimal sums.
#    sumIf accumulates DECIMAL(18,2) (o_totalprice carries 2 decimals —
#    the cast is exact), so the sum is associative and the hash is
#    partitioning-independent; the final toFloat64 normalizes the result
#    dtype across engines.
_CH_COMBINATORS = """
SELECT o_orderstatus,
       countIf(o_totalprice > 150000) AS n_big,
       toFloat64(sumIf(toDecimal64(o_totalprice, 2),
                       o_orderpriority = '1-URGENT')) AS urgent_total,
       uniqExact(o_custkey) AS n_custs,
       uniqExactIf(o_custkey, o_totalprice > 150000) AS n_big_custs,
       maxIf(o_orderdate, o_orderpriority = '5-LOW') AS last_low_date,
       argMax(o_orderpriority, o_orderkey) AS latest_priority,
       quantileExact(0.5)(toFloat64(o_totalprice)) AS median_price
FROM orders
GROUP BY o_orderstatus
"""

O_COMBINATORS = """
SELECT o_orderstatus,
       count(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE)
         AS urgent_total,
       count(DISTINCT o_custkey) AS n_custs,
       count(DISTINCT CASE WHEN o_totalprice > 150000
                           THEN o_custkey END) AS n_big_custs,
       max(o_orderdate) FILTER (WHERE o_orderpriority = '5-LOW')
         AS last_low_date,
       arg_max(o_orderpriority, o_orderkey) AS latest_priority,
       quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) AS median_price
FROM orders
GROUP BY o_orderstatus
"""


def q_dialect_combinators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse aggregate-combinator query (module doc)."""
    return run_clickhouse_sql(spark, _CH_COMBINATORS, sf_dir, ("orders",))


# 2. arrayJoin + splitByChar (compat UDF) + rename aggregates — the
#    explode runs in the subquery select list exactly where CH puts it.
_CH_ARRAYJOIN = """
SELECT tok,
       count(*) AS n,
       uniqExact(o_orderkey) AS n_orders,
       min(o_orderdate) AS first_seen
FROM (
    SELECT o_orderkey, o_orderdate,
           arrayJoin(splitByChar('-', o_orderpriority)) AS tok
    FROM orders
)
GROUP BY tok
"""

O_ARRAYJOIN = """
SELECT tok,
       count(*) AS n,
       count(DISTINCT o_orderkey) AS n_orders,
       min(o_orderdate) AS first_seen
FROM (
    SELECT o_orderkey, o_orderdate,
           unnest(string_split(o_orderpriority, '-')) AS tok
    FROM orders
)
GROUP BY tok
"""


def q_dialect_arrayjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse arrayJoin pipeline (module doc)."""
    return run_clickhouse_sql(spark, _CH_ARRAYJOIN, sf_dir, ("orders",))


# 3. multiIf + cast functions + scalar compat names in one query.
_CH_MULTIIF = """
SELECT multiIf(o_totalprice < 75000, 'small',
               o_totalprice < 180000, 'mid',
               'large') AS bucket,
       toInt32(modulo(o_orderkey, 4)) AS shard,
       count(*) AS n,
       uniqExact(toYear(CAST(o_orderdate AS DATE))) AS n_years,
       max(toString(o_custkey)) AS max_cust_str
FROM orders
GROUP BY bucket, shard
"""

O_MULTIIF = """
SELECT CASE WHEN o_totalprice < 75000 THEN 'small'
            WHEN o_totalprice < 180000 THEN 'mid'
            ELSE 'large' END AS bucket,
       CAST(o_orderkey % 4 AS INT) AS shard,
       count(*) AS n,
       count(DISTINCT year(o_orderdate)) AS n_years,
       max(CAST(o_custkey AS VARCHAR)) AS max_cust_str
FROM orders
GROUP BY bucket, shard
"""


def q_dialect_multiif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse multiIf/cast query (module doc)."""
    return run_clickhouse_sql(spark, _CH_MULTIIF, sf_dir, ("orders",))


# 4. array higher-order functions + ClickHouse array literals.  The
#    lambda rotation (CH lambda-first, Spark array-first) and the
#    [..]→array(..) literal rewrite both execute here; every column is
#    scalar and deterministic (folds run in array order), so the hash
#    check is exact.
_CH_ARRAY_HOF = """
SELECT o_orderkey,
       arraySum(x -> toFloat64(x * x),
                [1, 2, toInt64(o_orderkey % 5)]) AS sum_sq,
       arrayCount(x -> x % 2 = 0,
                  [1, 2, 3, toInt64(o_orderkey % 4)]) AS n_even,
       arrayFirst(x -> x > 1, [toInt64(o_orderkey % 3), 2, 9]) AS first_gt1,
       arrayExists(x -> x = 0, [toInt64(o_orderkey % 3)]) AS has0,
       arrayAll(x -> x >= 0, [toInt64(o_orderkey % 3), 1]) AS all_nonneg,
       arrayMax(arrayMap(x -> x * 10,
                         [1, toInt64(o_orderkey % 6)])) AS max10
FROM orders
"""

O_ARRAY_HOF = """
SELECT o_orderkey,
       CAST(list_sum(list_transform(
            [1, 2, CAST(o_orderkey % 5 AS BIGINT)],
            x -> CAST(x * x AS DOUBLE))) AS DOUBLE) AS sum_sq,
       CAST(len(list_filter(
            [1, 2, 3, CAST(o_orderkey % 4 AS BIGINT)],
            x -> x % 2 = 0)) AS INT) AS n_even,
       list_filter([CAST(o_orderkey % 3 AS BIGINT), 2, 9],
                   x -> x > 1)[1] AS first_gt1,
       len(list_filter([CAST(o_orderkey % 3 AS BIGINT)], x -> x = 0)) > 0
         AS has0,
       len(list_filter([CAST(o_orderkey % 3 AS BIGINT), 1], x -> x < 0)) = 0
         AS all_nonneg,
       list_aggregate(list_transform(
            [1, CAST(o_orderkey % 6 AS BIGINT)], x -> x * 10),
            'max') AS max10
FROM orders
"""


def q_dialect_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse array-HOF query (module doc)."""
    return run_clickhouse_sql(spark, _CH_ARRAY_HOF, sf_dir, ("orders",))


# 5. clause-level syntax: PREWHERE and GROUP BY ... WITH TOTALS.  The
#    totals row follows the SQL-standard empty-grouping-set convention
#    (NULL group keys), computed in the same aggregate pass.
_CH_TOTALS = """
SELECT o_orderstatus,
       count(*) AS n,
       toFloat64(sumIf(toDecimal64(o_totalprice, 2),
                       modulo(o_orderkey, 2) = 0)) AS even_total
FROM orders
PREWHERE o_totalprice > 100000
GROUP BY o_orderstatus WITH TOTALS
"""

O_TOTALS = """
SELECT o_orderstatus,
       count(*) AS n,
       CAST(SUM(CASE WHEN o_orderkey % 2 = 0
                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
            AS DOUBLE) AS even_total
FROM orders
WHERE o_totalprice > 100000
GROUP BY GROUPING SETS ((o_orderstatus), ())
"""


def q_dialect_with_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse PREWHERE + WITH TOTALS query (module doc)."""
    return run_clickhouse_sql(spark, _CH_TOTALS, sf_dir, ("orders",))


# 6. the structural ARRAY JOIN clause (LEFT variant keeps empty-array
#    rows) — rewritten to LATERAL VIEW [OUTER] explode, Spark's native
#    generator placement, so the expansion runs inside the scan stage.
_CH_ARRAY_JOIN_CLAUSE = """
SELECT tok,
       count(*) AS n,
       uniqExact(o_orderkey) AS n_orders
FROM orders
ARRAY JOIN splitByChar('-', o_orderpriority) AS tok
WHERE o_totalprice > 50000
GROUP BY tok
"""

O_ARRAY_JOIN_CLAUSE = """
SELECT tok,
       count(*) AS n,
       count(DISTINCT o_orderkey) AS n_orders
FROM (
  SELECT o_orderkey, unnest(string_split(o_orderpriority, '-')) AS tok
  FROM orders WHERE o_totalprice > 50000
)
GROUP BY tok
"""


def q_dialect_array_join_clause(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse ARRAY JOIN clause query (module doc)."""
    return run_clickhouse_sql(
        spark, _CH_ARRAY_JOIN_CLAUSE, sf_dir, ("orders",)
    )


# 6b. multi-array ARRAY JOIN — ClickHouse's zip semantics (arrays walk
#     in lockstep), rewritten to one inline(arrays_zip(...)) generator.
_CH_ARRAY_JOIN_ZIP = """
SELECT pos, tok, count() AS n
FROM orders
ARRAY JOIN splitByChar('-', o_orderpriority) AS tok, [1, 2] AS pos
GROUP BY pos, tok
"""

O_ARRAY_JOIN_ZIP = """
SELECT pos, tok, count(*) AS n
FROM (
  SELECT unnest(string_split(o_orderpriority, '-')) AS tok,
         unnest([1, 2]) AS pos
  FROM orders
)
GROUP BY 1, 2
"""


def q_dialect_array_join_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse multi-array ARRAY JOIN query (module doc)."""
    return run_clickhouse_sql(spark, _CH_ARRAY_JOIN_ZIP, sf_dir, ("orders",))


# 7. string/regex family — every rename evaluated against a DuckDB
#    oracle spelled in its native functions.
_CH_STRINGS = """
SELECT o_orderkey,
       match(o_orderpriority, '^[1-3]-') AS is_high,
       replaceAll(o_orderpriority, '-', '_') AS prio_u,
       replaceRegexpAll(o_orderpriority, '[AEIOU]', '.') AS devowel,
       leftPad(toString(modulo(o_orderkey, 997)), 5, '0') AS padded,
       startsWith(o_orderpriority, '1') AS p1,
       endsWith(o_orderpriority, 'URGENT') AS urgent,
       arrayStringConcat(extractAll(o_orderpriority, '[A-Z]+'), '/')
         AS words
FROM orders
WHERE modulo(o_orderkey, 3) = 0
"""

O_STRINGS = """
SELECT o_orderkey,
       regexp_matches(o_orderpriority, '^[1-3]-') AS is_high,
       replace(o_orderpriority, '-', '_') AS prio_u,
       regexp_replace(o_orderpriority, '[AEIOU]', '.', 'g') AS devowel,
       lpad(CAST(o_orderkey % 997 AS VARCHAR), 5, '0') AS padded,
       starts_with(o_orderpriority, '1') AS p1,
       ends_with(o_orderpriority, 'URGENT') AS urgent,
       array_to_string(regexp_extract_all(o_orderpriority, '[A-Z]+', 0),
                       '/') AS words
FROM orders
WHERE o_orderkey % 3 = 0
"""


def q_dialect_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse string/regex query (module doc)."""
    return run_clickhouse_sql(spark, _CH_STRINGS, sf_dir, ("orders",))


# 7b. table functions: numbers() spine + file() direct parquet query.
_CH_NUMBERS = """
SELECT number % 7 AS r,
       count() AS n,
       sum(number) AS total
FROM numbers(1000)
GROUP BY r
"""

O_NUMBERS = """
SELECT number % 7 AS r, COUNT(*) AS n,
       CAST(SUM(number) AS BIGINT) AS total
FROM (SELECT unnest(range(1000)) AS number)
GROUP BY 1
"""


def q_dialect_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse numbers() table-function query (module
    doc)."""
    return run_clickhouse_sql(spark, _CH_NUMBERS, sf_dir, ())


def q_dialect_file_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse ``file(path, 'Parquet')`` table function:
    a deterministic orders projection is written as parquet scratch
    and the CH query reads it back through Spark's direct file query
    (``parquet.`path``` — the same FileSystem machinery s3()/url()
    resolve through; swapping scheme is configuration)."""
    import tempfile

    path = tempfile.mkdtemp(prefix="dialect_file_") + "/orders_slice"
    rebalanced(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        ).filter("o_orderkey % 5 = 0")
    ).write.mode("overwrite").parquet(path)
    ch = f"""
    SELECT o_orderstatus,
           count() AS n,
           toFloat64(sum(toDecimal64(o_totalprice, 2))) AS total
    FROM file('{path}', 'Parquet')
    GROUP BY o_orderstatus
    """
    return run_clickhouse_sql(spark, ch, sf_dir, ("orders",))


O_FILE_READ = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders WHERE o_orderkey % 5 = 0
GROUP BY o_orderstatus
"""


# 8. LIMIT n BY — ClickHouse's per-group top-n clause, auto-rewritten
#    to the row_number() window (the limit_by_analog pattern).  The
#    ORDER BY tiebreak on o_orderkey makes the pick deterministic.
_CH_LIMIT_BY = """
SELECT o_orderstatus, o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 2 BY o_orderstatus
"""

O_LIMIT_BY = """
SELECT o_orderstatus, o_orderkey, o_totalprice FROM (
  SELECT o_orderstatus, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 2
"""


def q_dialect_limit_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse LIMIT n BY query (module doc)."""
    return run_clickhouse_sql(spark, _CH_LIMIT_BY, sf_dir, ("orders",))


# 9. ASOF LEFT JOIN ... USING — for each purchase event, the user's
#    latest click at-or-before it.  Event timestamps are globally
#    unique in the testdata, so the top-1 pick is deterministic.  The
#    DuckDB oracle uses its native ASOF JOIN.
_CH_ASOF = """
SELECT e.event_id, e.user_id, e.ts, c.click_value
FROM events e
ASOF LEFT JOIN (
    SELECT user_id, ts, value AS click_value
    FROM events
    WHERE event_type = 'click'
) c USING (user_id, ts)
WHERE e.event_type = 'purchase'
"""

O_ASOF = """
SELECT e.event_id, e.user_id, e.ts, c.click_value
FROM events e
ASOF LEFT JOIN (
    SELECT user_id, ts, value AS click_value
    FROM events
    WHERE event_type = 'click'
) c ON e.user_id = c.user_id AND e.ts >= c.ts
WHERE e.event_type = 'purchase'
"""


def q_dialect_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse ASOF LEFT JOIN USING query (module doc)."""
    return run_clickhouse_sql(spark, _CH_ASOF, sf_dir, ("events",))


# 9b. ASOF LEFT JOIN ... ON — the free-form conjunct spelling with
#     differently-named key columns and a STRICT inequality (each
#     purchase matched to the latest click strictly before it).  The
#     DuckDB oracle uses its native ASOF JOIN with the same ON.
_CH_ASOF_ON = """
SELECT e.event_id, e.user_id, e.ts, c.click_value
FROM events e
ASOF LEFT JOIN (
    SELECT user_id AS uid, ts AS cts, value AS click_value
    FROM events
    WHERE event_type = 'click'
) c ON e.user_id = c.uid AND e.ts > c.cts
WHERE e.event_type = 'purchase'
"""

O_ASOF_ON = """
SELECT e.event_id, e.user_id, e.ts, c.click_value
FROM events e
ASOF LEFT JOIN (
    SELECT user_id AS uid, ts AS cts, value AS click_value
    FROM events
    WHERE event_type = 'click'
) c ON e.user_id = c.uid AND e.ts > c.cts
WHERE e.event_type = 'purchase'
"""


def q_dialect_asof_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse ASOF LEFT JOIN ON query (module doc)."""
    return run_clickhouse_sql(spark, _CH_ASOF_ON, sf_dir, ("events",))


# 10. ORDER BY ... WITH FILL — yearly order counts on a gap-free
#     1992..1999 spine (TO 2000 exclusive, ClickHouse semantics);
#     missing years carry NULL counts (documented divergence from
#     ClickHouse's zero-fill).
_CH_WITH_FILL = """
SELECT toYear(o_orderdate) AS yr, count(*) AS n
FROM orders
GROUP BY yr
ORDER BY yr WITH FILL FROM 1992 TO 2000
"""

O_WITH_FILL = """
SELECT yr, n
FROM (SELECT unnest(range(1992, 2000)) AS yr) s
LEFT JOIN (
  SELECT year(o_orderdate) AS yr, count(*) AS n
  FROM orders GROUP BY 1
) b USING (yr)
ORDER BY yr
"""


def q_dialect_with_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse ORDER BY WITH FILL query (module doc)."""
    return run_clickhouse_sql(spark, _CH_WITH_FILL, sf_dir, ("orders",))


# 10b. WITH FILL on a DATE key with STEP INTERVAL — one user's sparse
#      purchase days on a gap-free January spine (TO exclusive).
_CH_WITH_FILL_DATE = """
SELECT CAST(ts AS DATE) AS d, count() AS n
FROM events
WHERE event_type = 'purchase' AND user_id = 7
GROUP BY d
ORDER BY d WITH FILL FROM CAST('2024-01-01' AS DATE)
                     TO CAST('2024-02-01' AS DATE)
                     STEP INTERVAL 1 DAY
"""

O_WITH_FILL_DATE = """
SELECT d, n
FROM (SELECT unnest(generate_series(DATE '2024-01-01',
                                    DATE '2024-01-31',
                                    INTERVAL 1 DAY))::DATE AS d) s
LEFT JOIN (
  SELECT CAST(ts AS DATE) AS d, count(*) AS n
  FROM events WHERE event_type = 'purchase' AND user_id = 7
  GROUP BY 1
) b USING (d)
ORDER BY d
"""


def q_dialect_with_fill_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse date-spine WITH FILL query (module doc)."""
    return run_clickhouse_sql(spark, _CH_WITH_FILL_DATE, sf_dir, ("events",))


# 10c. WITH FILL ... INTERPOLATE — filled years carry the previous
#      customer count forward (LOCF); 1999-2000 are spine-only rows.
_CH_WITH_FILL_INTERP = """
SELECT toYear(o_orderdate) AS yr, uniqExact(o_custkey) AS nc
FROM orders
GROUP BY yr
ORDER BY yr WITH FILL FROM 1992 TO 2001 INTERPOLATE (nc)
"""

O_WITH_FILL_INTERP = """
SELECT yr,
       last_value(nc IGNORE NULLS) OVER (
           ORDER BY yr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS nc
FROM (SELECT unnest(range(1992, 2001)) AS yr) s
LEFT JOIN (
  SELECT year(o_orderdate) AS yr, count(DISTINCT o_custkey) AS nc
  FROM orders GROUP BY 1
) b USING (yr)
ORDER BY yr
"""


def q_dialect_with_fill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse WITH FILL INTERPOLATE query (module doc)."""
    return run_clickhouse_sql(
        spark, _CH_WITH_FILL_INTERP, sf_dir, ("orders",)
    )


# 10f. expression-key fill (r7) — ``ORDER BY toStartOfDay(ts) WITH
#      FILL STEP INTERVAL 1 DAY``: the expression is computed as a
#      derived column (ClickHouse's expression auto-name) and the
#      spine machinery runs on it unchanged; the fill axis appears as
#      an output column (documented divergence in _rewrite_with_fill).
_CH_WITH_FILL_EXPR = """
SELECT ts, value
FROM events
WHERE event_type = 'purchase' AND user_id = 7
ORDER BY toStartOfDay(ts) WITH FILL
  FROM toDateTime('2024-01-01 00:00:00')
  TO toDateTime('2024-02-01 00:00:00')
  STEP INTERVAL 1 DAY
"""

O_WITH_FILL_EXPR = """
SELECT d AS "toStartOfDay(ts)", ts, value
FROM (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                    TIMESTAMP '2024-01-31',
                                    INTERVAL 1 DAY)) AS d) s
LEFT JOIN (
  SELECT date_trunc('day', ts) AS d, ts, value
  FROM events WHERE event_type = 'purchase' AND user_id = 7
) b USING (d)
ORDER BY 1
"""


def q_dialect_with_fill_expr(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse expression-key WITH FILL query (module doc
    #10f)."""
    return run_clickhouse_sql(
        spark, _CH_WITH_FILL_EXPR, sf_dir, ("events",)
    )


# 10d. DESC fill — the spine walks downward from FROM (inclusive) to
#      TO (exclusive on the low side), mirroring ClickHouse.
_CH_WITH_FILL_DESC = """
SELECT toYear(o_orderdate) AS yr, count(*) AS n
FROM orders
GROUP BY yr
ORDER BY yr DESC WITH FILL FROM 1999 TO 1990
"""

O_WITH_FILL_DESC = """
SELECT yr, n
FROM (SELECT unnest(range(1999, 1990, -1)) AS yr) s
LEFT JOIN (
  SELECT year(o_orderdate) AS yr, count(*) AS n
  FROM orders GROUP BY 1
) b USING (yr)
ORDER BY yr DESC
"""


def q_dialect_with_fill_desc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse descending WITH FILL query (module doc)."""
    return run_clickhouse_sql(spark, _CH_WITH_FILL_DESC, sf_dir, ("orders",))


# 10e. multi-key fill — leading keys group the spine: each user gets
#      a gap-free day axis between their own first and last purchase
#      day (one grouped min/max aggregate; no global spine).
_CH_WITH_FILL_MULTI = """
SELECT user_id, CAST(ts AS DATE) AS d, count() AS n
FROM events
WHERE event_type = 'purchase' AND user_id % 19 = 3
GROUP BY user_id, d
ORDER BY user_id, d WITH FILL STEP INTERVAL 1 DAY
"""

O_WITH_FILL_MULTI = """
WITH base AS (
  SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS n
  FROM events WHERE event_type = 'purchase' AND user_id % 19 = 3
  GROUP BY 1, 2),
g AS (SELECT user_id, min(d) AS mn, max(d) AS mx FROM base GROUP BY 1),
spine AS (
  SELECT user_id,
         unnest(generate_series(mn, mx, INTERVAL 1 DAY))::DATE AS d
  FROM g)
SELECT s.user_id, s.d, b.n
FROM spine s LEFT JOIN base b USING (user_id, d)
ORDER BY s.user_id, s.d
"""


def q_dialect_with_fill_multikey(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse multi-key WITH FILL query (module doc)."""
    return run_clickhouse_sql(
        spark, _CH_WITH_FILL_MULTI, sf_dir, ("events",)
    )


# 11. topK(k)(x) — exact deterministic tier (count desc, value asc):
#     the 3 most frequent priorities per order status.  The gate
#     boundary serializes the array with arrayStringConcat — the
#     driver's canonicalizer (pandas sort_values) cannot hash
#     list-typed cells (CORRECTNESS_r05 adjudication).
_CH_TOPK = """
SELECT o_orderstatus,
       arrayStringConcat(topK(3)(o_orderpriority), ',') AS top_prios
FROM orders
GROUP BY o_orderstatus
"""

O_TOPK = """
SELECT o_orderstatus,
       array_to_string(
         list_slice(list(o_orderpriority ORDER BY c DESC, o_orderpriority),
                    1, 3), ',') AS top_prios
FROM (
  SELECT o_orderstatus, o_orderpriority, count(*) AS c
  FROM orders GROUP BY 1, 2
)
GROUP BY o_orderstatus
"""


def q_dialect_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse topK query, exact tier (module doc)."""
    return run_clickhouse_sql(spark, _CH_TOPK, sf_dir, ("orders",))


# 12. 1-based array subscripts (positive and negative) over a split —
#     ClickHouse arr[1] is the first element, arr[-1] the last; both
#     map to try_element_at.  DuckDB list indexing is 1-based too, so
#     the oracle spells it natively.
_CH_SUBSCRIPT = """
SELECT o_orderkey,
       splitByChar('-', o_orderpriority)[1] AS prio_num,
       splitByChar('-', o_orderpriority)[-1] AS prio_word
FROM orders
WHERE modulo(o_orderkey, 7) = 0
"""

O_SUBSCRIPT = """
SELECT o_orderkey,
       string_split(o_orderpriority, '-')[1] AS prio_num,
       string_split(o_orderpriority, '-')[-1] AS prio_word
FROM orders
WHERE o_orderkey % 7 = 0
"""


def q_dialect_subscript(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse 1-based subscript query (module doc)."""
    return run_clickhouse_sql(spark, _CH_SUBSCRIPT, sf_dir, ("orders",))


# 12b. ANY LEFT JOIN ... USING — the right side collapses to its
#      lexicographic-first row per key before the join (deterministic
#      refinement of ClickHouse's arbitrary pick — same policy as the
#      any_left_join operator, whose oracle spelling this reuses).
_CH_ANY_JOIN = """
SELECT o_orderstatus, any_flag,
       count() AS n_orders,
       toFloat64(sum(toDecimal64(coalesce(any_price, 0), 2))) AS price_sum
FROM orders
ANY LEFT JOIN (
    SELECT l_orderkey AS o_orderkey, l_linenumber, l_quantity,
           l_extendedprice AS any_price, l_returnflag AS any_flag
    FROM lineitem
) fl USING (o_orderkey)
GROUP BY o_orderstatus, any_flag
"""

O_ANY_JOIN = """
WITH fl AS (
  SELECT l_orderkey AS o_orderkey, any_price, any_flag
  FROM (
    SELECT l_orderkey, l_extendedprice AS any_price,
           l_returnflag AS any_flag,
           row_number() OVER (PARTITION BY l_orderkey
               ORDER BY l_linenumber, l_quantity, l_extendedprice,
                        l_returnflag) AS rn
    FROM lineitem) WHERE rn = 1)
SELECT o_orderstatus, any_flag,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(coalesce(any_price, 0) AS DECIMAL(18,2)))
            AS DOUBLE) AS price_sum
FROM orders LEFT JOIN fl USING (o_orderkey)
GROUP BY o_orderstatus, any_flag
"""


def q_dialect_any_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse ANY LEFT JOIN USING query (module doc)."""
    return run_clickhouse_sql(
        spark, _CH_ANY_JOIN, sf_dir, ("orders", "lineitem")
    )


# 12b2. ANY LEFT JOIN ... ON — the free-form equality-conjunct
#       spelling (differently-named key columns); the right side
#       collapses per its ON-referenced columns and the ON clause
#       survives verbatim, so no fan-out is possible.
_CH_ANY_JOIN_ON = """
SELECT o.o_orderstatus, fl.any_flag,
       count() AS n_orders,
       toFloat64(sum(toDecimal64(coalesce(fl.any_price, 0), 2)))
         AS price_sum
FROM orders o
ANY LEFT JOIN (
    SELECT l_orderkey, l_linenumber, l_quantity,
           l_extendedprice AS any_price, l_returnflag AS any_flag
    FROM lineitem
) fl ON o.o_orderkey = fl.l_orderkey
GROUP BY o.o_orderstatus, fl.any_flag
"""

O_ANY_JOIN_ON = """
WITH fl AS (
  SELECT l_orderkey, any_price, any_flag
  FROM (
    SELECT l_orderkey, l_extendedprice AS any_price,
           l_returnflag AS any_flag,
           row_number() OVER (PARTITION BY l_orderkey
               ORDER BY l_linenumber, l_quantity, l_extendedprice,
                        l_returnflag) AS rn
    FROM lineitem) WHERE rn = 1)
SELECT o.o_orderstatus, fl.any_flag,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(coalesce(fl.any_price, 0) AS DECIMAL(18,2)))
            AS DOUBLE) AS price_sum
FROM orders o LEFT JOIN fl ON o.o_orderkey = fl.l_orderkey
GROUP BY o.o_orderstatus, fl.any_flag
"""


def q_dialect_any_join_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse ANY LEFT JOIN ON query (module doc)."""
    return run_clickhouse_sql(
        spark, _CH_ANY_JOIN_ON, sf_dir, ("orders", "lineitem")
    )


# 12b4 (r12). ANY RIGHT JOIN — the mirror of the LEFT form: each
#       RIGHT row keeps at most one left match, so the LEFT side
#       collapses to one row per ON/USING key before the join
#       (left-side-only shuffle, |right| output rows).  Deterministic
#       pick = lexicographic min struct over the left value columns,
#       which the DuckDB oracle spells as the row_number window.
_CH_ANY_RIGHT_JOIN = """
SELECT c.c_custkey AS k, c.c_mktsegment AS seg,
       o.o_orderkey AS first_ok, toFloat64(o.o_totalprice) AS tp
FROM (SELECT o_custkey, o_orderkey, o_totalprice FROM orders) o
ANY RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_custkey % 13 = 0
ORDER BY k
"""

O_ANY_RIGHT_JOIN = """
WITH fo AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
             ORDER BY o_orderkey, o_totalprice) AS rn
  FROM orders)
SELECT c.c_custkey AS k, c.c_mktsegment AS seg,
       fo.o_orderkey AS first_ok,
       CAST(fo.o_totalprice AS DOUBLE) AS tp
FROM customer c
LEFT JOIN fo ON fo.o_custkey = c.c_custkey AND fo.rn = 1
WHERE c.c_custkey % 13 = 0
ORDER BY k
"""


def q_dialect_any_right_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse ANY RIGHT JOIN (module doc #12b4)."""
    return run_clickhouse_sql(
        spark, _CH_ANY_RIGHT_JOIN, sf_dir, ("orders", "customer")
    )


# 12b3 (r12). ANY JOIN with a NON-equality ON conjunct (VERDICT r11
#       item 3, flips the r6 refusal): the match set depends on the
#       left row, so the keyed right-side collapse can't apply — the
#       rewrite emits a correlated LATERAL top-1 that Catalyst
#       decorrelates into an equality-key hash join + per-left-row
#       rank (see _any_ineq_lateral).  Deterministic pick: the
#       lexicographic minimum over ALL right columns, which the
#       DuckDB oracle spells as the same row_number window over the
#       plain fan-out join.  Dates compare as DATE on both sides.
_CH_ANY_JOIN_INEQ = """
SELECT o.o_orderkey AS k, toFloat64(o.o_totalprice) AS tp,
       s.sd AS sd, toFloat64(s.qty) AS qty
FROM orders o
ANY LEFT JOIN (
    SELECT l_orderkey AS lk, toDate(l_shipdate) AS sd,
           l_quantity AS qty
    FROM lineitem
) s ON s.lk = o.o_orderkey AND s.sd > toDate(o.o_orderdate)
WHERE o.o_orderkey % 7 = 0
ORDER BY k
"""

O_ANY_JOIN_INEQ = """
WITH j AS (
  SELECT o.o_orderkey AS k, o.o_totalprice AS tp, s.sd, s.qty,
         row_number() OVER (PARTITION BY o.o_orderkey
             ORDER BY s.lk NULLS FIRST, s.sd NULLS FIRST,
                      s.qty NULLS FIRST) AS rn
  FROM orders o
  LEFT JOIN (
      SELECT l_orderkey AS lk, CAST(l_shipdate AS DATE) AS sd,
             l_quantity AS qty
      FROM lineitem
  ) s ON s.lk = o.o_orderkey AND s.sd > CAST(o.o_orderdate AS DATE)
  WHERE o.o_orderkey % 7 = 0)
SELECT k, CAST(tp AS DOUBLE) AS tp, sd, CAST(qty AS DOUBLE) AS qty
FROM j WHERE rn = 1 ORDER BY k
"""


def q_dialect_any_join_ineq(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse inequality ANY JOIN (module doc #12b3)."""
    return run_clickhouse_sql(
        spark, _CH_ANY_JOIN_INEQ, sf_dir, ("orders", "lineitem")
    )


# 12b4 (r13). ANY JOIN with NO equality conjunct at all (flips the
#       final VERDICT r12 missing item; ClickHouse gates the shape
#       behind its experimental full-sorting join).  A single
#       order-comparison conjunct makes the eligible right set a
#       prefix of the right side ordered by the comparison value,
#       so the rewrite emits a running-min plan with NO theta join:
#       per-value min(struct) group (O(distinct values) rows — the
#       quantileExactWeighted compression class), one window over
#       those distinct values with probe rows unioned in, and an
#       equi-join back (see _any_noeq_derived).  Two legs cover both
#       sort directions and both strictness tags: LEFT strict '<'
#       (ASC, probe-before-build) and INNER non-strict '<=' spelled
#       right-side-first (DESC, build-before-probe).  The DuckDB
#       oracle spells both as LATERAL top-1 with the same
#       lexicographic (ab, nm) order.
_CH_ANY_JOIN_NOEQ = """
SELECT 1 AS leg, c.c_custkey AS k, s.nm AS nm, toFloat64(s.ab) AS ab
FROM customer c
ANY LEFT JOIN (SELECT s_acctbal AS ab, s_name AS nm FROM supplier) s
ON s.ab < c.c_acctbal
WHERE c.c_custkey % 17 = 0
UNION ALL
SELECT 2 AS leg, c.c_custkey AS k, s.nm AS nm, toFloat64(s.ab) AS ab
FROM customer c
ANY JOIN (SELECT s_acctbal AS ab, s_name AS nm FROM supplier) s
ON c.c_acctbal <= s.ab
WHERE c.c_custkey % 17 = 0
ORDER BY leg, k
"""

O_ANY_JOIN_NOEQ = """
SELECT 1 AS leg, c.c_custkey AS k, s.nm AS nm, CAST(s.ab AS DOUBLE) AS ab
FROM customer c
LEFT JOIN LATERAL (
    SELECT s_acctbal AS ab, s_name AS nm FROM supplier
    WHERE s_acctbal < c.c_acctbal
    ORDER BY 1 NULLS FIRST, 2 NULLS FIRST LIMIT 1) s ON TRUE
WHERE c.c_custkey % 17 = 0
UNION ALL
SELECT 2 AS leg, c.c_custkey AS k, s.nm AS nm, CAST(s.ab AS DOUBLE) AS ab
FROM customer c
JOIN LATERAL (
    SELECT s_acctbal AS ab, s_name AS nm FROM supplier
    WHERE c.c_acctbal <= s_acctbal
    ORDER BY 1 NULLS FIRST, 2 NULLS FIRST LIMIT 1) s ON TRUE
WHERE c.c_custkey % 17 = 0
ORDER BY leg, k
"""


def q_dialect_any_join_noeq(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse no-equality ANY JOIN (module doc #12b4)."""
    return run_clickhouse_sql(
        spark, _CH_ANY_JOIN_NOEQ, sf_dir, ("customer", "supplier")
    )


# 12c. combinator families round 2: -Array, -Distinct, -OrNull over
#      inline arrays (integer-valued doubles keep the DOUBLE-policy
#      sums exact under any partitioning), plus sumMap's
#      tuple-of-sorted-arrays shape.  The sumMap pair arrays are
#      exploded via ARRAY JOIN at the gate boundary so every output
#      column is scalar (driver canonicalizer, CORRECTNESS_r05).
_CH_COMBINATORS2 = """
SELECT cohort, sa, mna, mxa, ca, aa, sd, cn, mk,
       toFloat64(mv) / 100 AS mv
FROM (
  SELECT user_id % 10 AS cohort,
         sumArray([toFloat64(user_id % 3), toFloat64(event_id % 5)]) AS sa,
         minArray([value, 100.0]) AS mna,
         maxArray([value, -1.0]) AS mxa,
         countArray([value, value]) AS ca,
         avgArray([toFloat64(event_id % 7)]) AS aa,
         sumDistinct(user_id % 7) AS sd,
         countOrNull(CASE WHEN value > 1000 THEN 1 END) AS cn,
         sumMap([event_type], [toInt64(round(value * 100))]) AS sm
  FROM events
  GROUP BY cohort
)
ARRAY JOIN (sm).keys AS mk, (sm).values AS mv
"""
# mv accumulates exact integer CENTS (value carries 2 decimals — the
# operators/stats.py weighted-median contract) so the per-key sums
# are associative and partition-order-free; a plain double sumMap
# diverged from DuckDB in the 7th significant digit at sf0.1 (r11).

O_COMBINATORS2 = """
WITH scalars AS (
  SELECT user_id % 10 AS cohort,
         SUM(CAST(user_id % 3 AS DOUBLE) + CAST(event_id % 5 AS DOUBLE))
           AS sa,
         LEAST(MIN(value), 100.0) AS mna,
         GREATEST(MAX(value), -1.0) AS mxa,
         CAST(2 * COUNT(*) AS BIGINT) AS ca,
         AVG(CAST(event_id % 7 AS DOUBLE)) AS aa,
         CAST(SUM(DISTINCT user_id % 7) AS BIGINT) AS sd,
         NULLIF(COUNT(CASE WHEN value > 1000 THEN 1 END), 0) AS cn
  FROM events GROUP BY 1),
per_key AS (
  SELECT user_id % 10 AS cohort, event_type AS mk,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
           / 100 AS mv
  FROM events GROUP BY 1, 2)
SELECT s.cohort, s.sa, s.mna, s.mxa, s.ca, s.aa, s.sd, s.cn,
       p.mk, p.mv
FROM scalars s JOIN per_key p ON s.cohort = p.cohort
"""


def q_dialect_combinators2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse -Array/-Distinct/-OrNull/-Map combinator
    query (module doc)."""
    return run_clickhouse_sql(spark, _CH_COMBINATORS2, sf_dir, ("events",))


# 12d. scalar/aggregate extras round 3: weighted mean, heavy-hitter
#      pick, bit ops, integer division, array reductions — one pass.
_CH_SCALAR_EXTRAS = """
SELECT s.event_id,
       s.grp,
       s.idv, s.idz, s.ba, s.bx, s.bsl, s.ceq, s.aavg, s.aprod,
       s.fin, s.nan,
       a.aw
FROM (
    SELECT event_id,
           user_id % 5 AS grp,
           intDiv(event_id, 7) % 11 AS idv,
           intDivOrZero(event_id, user_id % 3) AS idz,
           bitAnd(event_id, 255) AS ba,
           bitXor(user_id, 42) AS bx,
           bitShiftLeft(toInt32(user_id % 8), 2) AS bsl,
           countEqual([1, 2, 2, toInt64(event_id % 3)], 2) AS ceq,
           arrayAvg([toFloat64(user_id % 4), 2.0]) AS aavg,
           arrayProduct([2.0, toFloat64(event_id % 3 + 1)]) AS aprod,
           isFinite(value) AS fin,
           isNaN(value) AS nan
    FROM events
    WHERE event_id % 97 = 0
) s
JOIN (
    SELECT user_id % 5 AS grp,
           avgWeighted(value, toFloat64(event_id % 9 + 1)) AS aw
    FROM events
    WHERE event_id % 97 = 0
    GROUP BY grp
) a ON a.grp = s.grp
"""

O_SCALAR_EXTRAS = """
SELECT s.event_id, s.grp,
       s.idv, s.idz, s.ba, s.bx, s.bsl, s.ceq, s.aavg, s.aprod,
       s.fin, s.nan, a.aw
FROM (
  SELECT e.event_id,
         e.user_id % 5 AS grp,
         (e.event_id // 7) % 11 AS idv,
         CASE WHEN e.user_id % 3 = 0 THEN 0
              ELSE e.event_id // (e.user_id % 3) END AS idz,
         e.event_id & 255 AS ba,
         xor(e.user_id, 42) AS bx,
         CAST((e.user_id % 8) << 2 AS INT) AS bsl,
         CAST(len(list_filter([1, 2, 2, e.event_id % 3],
                              x -> x = 2)) AS INT) AS ceq,
         (CAST(e.user_id % 4 AS DOUBLE) + 2.0) / 2 AS aavg,
         2.0 * CAST(e.event_id % 3 + 1 AS DOUBLE) AS aprod,
         isfinite(e.value) AS fin,
         isnan(e.value) AS nan
  FROM events e WHERE e.event_id % 97 = 0
) s
JOIN (
  SELECT (user_id % 5) AS grp,
         SUM(value * CAST(event_id % 9 + 1 AS DOUBLE))
           / SUM(CAST(event_id % 9 + 1 AS DOUBLE)) AS aw
  FROM events WHERE event_id % 97 = 0 GROUP BY 1
) a ON a.grp = s.grp
"""


def q_dialect_scalar_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse scalar/aggregate extras query (module
    doc)."""
    return run_clickhouse_sql(spark, _CH_SCALAR_EXTRAS, sf_dir, ("events",))


# r8 probe batch gated query: bit aggregates, bitmap cardinality,
# Kahan sum (decimal-exact tier), interval sweep, and the fixed
# round-to-bucket scalars — per order status, value-gated.
_CH_PROBE8 = """
SELECT o_orderstatus,
       groupBitOr(o_orderkey % 256) AS bits_or,
       groupBitXor(o_orderkey % 1024) AS bits_xor,
       groupBitAnd(o_orderkey % 4 + 12) AS bits_and,
       groupBitmap(o_custkey % 1000) AS bm_card,
       sumKahan(o_totalprice) AS kahan_total,
       maxIntersections(o_orderkey % 100,
                        o_orderkey % 100 + 5) AS max_overlap,
       min(roundAge(o_orderkey % 90)) AS min_age_bucket,
       max(roundDuration(o_orderkey % 7000)) AS max_dur_bucket,
       max(roundToExp2(o_orderkey % 1000)) AS max_exp2
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""

O_PROBE8 = """
WITH pts AS (
  SELECT o_orderstatus, CAST(o_orderkey % 100 AS DOUBLE) AS p, 1 AS d
  FROM orders
  UNION ALL
  SELECT o_orderstatus, CAST(o_orderkey % 100 + 5 AS DOUBLE), -1
  FROM orders),
sweep AS (
  SELECT o_orderstatus,
         SUM(d) OVER (PARTITION BY o_orderstatus
                      ORDER BY p, d
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum
  FROM pts),
mi AS (
  SELECT o_orderstatus, CAST(MAX(cum) AS BIGINT) AS max_overlap
  FROM sweep GROUP BY o_orderstatus),
agg AS (
  SELECT o_orderstatus,
         bit_or(o_orderkey % 256) AS bits_or,
         bit_xor(o_orderkey % 1024) AS bits_xor,
         bit_and(o_orderkey % 4 + 12) AS bits_and,
         COUNT(DISTINCT o_custkey % 1000) AS bm_card,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27, 6))) AS DOUBLE)
           AS kahan_total,
         MIN(CASE WHEN o_orderkey % 90 < 1 THEN 0
                  WHEN o_orderkey % 90 <= 17 THEN 17
                  WHEN o_orderkey % 90 <= 24 THEN 18
                  WHEN o_orderkey % 90 <= 34 THEN 25
                  WHEN o_orderkey % 90 <= 44 THEN 35
                  WHEN o_orderkey % 90 <= 54 THEN 45
                  ELSE 55 END) AS min_age_bucket,
         MAX(CASE WHEN o_orderkey % 7000 >= 3600 THEN 3600
                  WHEN o_orderkey % 7000 >= 1800 THEN 1800
                  WHEN o_orderkey % 7000 >= 1200 THEN 1200
                  WHEN o_orderkey % 7000 >= 600 THEN 600
                  WHEN o_orderkey % 7000 >= 300 THEN 300
                  WHEN o_orderkey % 7000 >= 240 THEN 240
                  WHEN o_orderkey % 7000 >= 180 THEN 180
                  WHEN o_orderkey % 7000 >= 120 THEN 120
                  WHEN o_orderkey % 7000 >= 60 THEN 60
                  WHEN o_orderkey % 7000 >= 30 THEN 30
                  WHEN o_orderkey % 7000 >= 10 THEN 10
                  WHEN o_orderkey % 7000 >= 1 THEN 1
                  ELSE 0 END) AS max_dur_bucket,
         MAX(CASE WHEN o_orderkey % 1000 < 1 THEN 0
                  ELSE CAST(pow(2, floor(log2(o_orderkey % 1000)))
                            AS BIGINT) END) AS max_exp2
  FROM orders GROUP BY o_orderstatus)
SELECT agg.o_orderstatus, bits_or, bits_xor, bits_and, bm_card,
       kahan_total, max_overlap, min_age_bucket, max_dur_bucket,
       max_exp2
FROM agg JOIN mi ON agg.o_orderstatus = mi.o_orderstatus
ORDER BY agg.o_orderstatus
"""


def q_dialect_probe8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse r8 probe-batch query (module doc)."""
    return run_clickhouse_sql(spark, _CH_PROBE8, sf_dir, ("orders",))


# r8: windowFunnel strict modes (_window_funnel_modes_fold).  The
# gated mode is strict_dedup, whose semantics admit an EXACT
# relational spelling under mutually-exclusive conditions: the chain
# is pinned to FIRST occurrences (a repeat of an already-reached
# condition freezes the search), so level 2 is the first in-window
# click after the first view (a second view kills first), and level
# 3 the first purchase after that click, before any killing repeat.
# strict_order/strict_increase are value-pinned on crafted sequences
# in test_r8_window_funnel_modes (their oracles would need the full
# greedy replay; DuckDB 1.0 list_reduce mis-evaluates struct-state
# lambdas, measured r8, so no mirror-fold oracle).
_CH_FUNNEL_DEDUP = """
SELECT lvl, count() AS n_users FROM (
    SELECT user_id,
           windowFunnel(86400, 'strict_dedup')(
               ts, event_type = 'view', event_type = 'click',
               event_type = 'purchase') AS lvl
    FROM events
    GROUP BY user_id
)
GROUP BY lvl
ORDER BY lvl
"""

O_FUNNEL_DEDUP = """
WITH rel AS (
  SELECT user_id, ts, event_type FROM events
  WHERE event_type IN ('view', 'click', 'purchase')),
v1 AS (
  SELECT user_id, MIN(ts) AS v1 FROM rel
  WHERE event_type = 'view' GROUP BY user_id),
k1 AS (
  SELECT r.user_id, MIN(r.ts) AS kill1
  FROM rel r JOIN v1 USING (user_id)
  WHERE r.event_type = 'view' AND r.ts > v1.v1
  GROUP BY r.user_id),
cs AS (
  SELECT r.user_id, MIN(r.ts) AS cstar
  FROM rel r JOIN v1 USING (user_id) LEFT JOIN k1 USING (user_id)
  WHERE r.event_type = 'click' AND r.ts > v1.v1
    AND epoch_us(r.ts) - epoch_us(v1.v1) <= 86400000000
    AND (k1.kill1 IS NULL OR r.ts < k1.kill1)
  GROUP BY r.user_id),
k2 AS (
  SELECT r.user_id, MIN(r.ts) AS kill2
  FROM rel r JOIN cs USING (user_id)
  WHERE r.event_type = 'click' AND r.ts > cs.cstar
  GROUP BY r.user_id),
p3 AS (
  SELECT DISTINCT r.user_id
  FROM rel r
  JOIN cs USING (user_id) JOIN v1 USING (user_id)
  LEFT JOIN k1 USING (user_id) LEFT JOIN k2 USING (user_id)
  WHERE r.event_type = 'purchase' AND r.ts > cs.cstar
    AND epoch_us(r.ts) - epoch_us(v1.v1) <= 86400000000
    AND (k1.kill1 IS NULL OR r.ts < k1.kill1)
    AND (k2.kill2 IS NULL OR r.ts < k2.kill2)),
u AS (SELECT DISTINCT user_id FROM events),
lvl_per_user AS (
  SELECT u.user_id,
         CASE WHEN u.user_id IN (SELECT user_id FROM p3) THEN 3
              WHEN u.user_id IN (SELECT user_id FROM cs) THEN 2
              WHEN u.user_id IN (SELECT user_id FROM v1) THEN 1
              ELSE 0 END AS lvl
  FROM u)
SELECT lvl, COUNT(*) AS n_users
FROM lvl_per_user GROUP BY lvl ORDER BY lvl
"""


def q_dialect_funnel_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse windowFunnel strict_dedup query (module
    doc)."""
    return run_clickhouse_sql(
        spark, _CH_FUNNEL_DEDUP, sf_dir, ("events",)
    )


# 12e. JSON / URL / strftime / tokenizer scalar families.
_CH_JSON_URL = """
SELECT event_id,
       JSONExtractInt(props, 'k') AS k,
       JSONExtractString(props, 'k') AS ks,
       JSONHas(props, 'missing') AS has_miss,
       formatDateTime(ts, '%Y-%m-%d %H') AS fdt,
       domain(concat('https://ex', toString(user_id % 3),
                     '.org/p/q?x=1')) AS dom,
       path(concat('https://ex.org/p', toString(user_id % 5),
                   '?x=1')) AS pth,
       arrayStringConcat(
         alphaTokens(concat('ab1cd', toString(event_id % 10), 'xy')),
         '/') AS toks,
       arrayStringConcat(
         splitByString('--', concat('a--b--', event_type)), '/') AS parts
FROM events
WHERE event_id % 53 = 0
"""

O_JSON_URL = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       json_extract_string(props, '$.k') AS ks,
       json_extract(props, '$.missing') IS NOT NULL AS has_miss,
       strftime(ts, '%Y-%m-%d %H') AS fdt,
       regexp_extract('https://ex' || (user_id % 3) || '.org/p/q?x=1',
                      '^[a-z]+://([^/]+)', 1) AS dom,
       regexp_extract('https://ex.org/p' || (user_id % 5) || '?x=1',
                      '^[a-z]+://[^/?#]+([^?#]*)', 1) AS pth,
       array_to_string(
         list_filter(string_split_regex('ab1cd' || (event_id % 10) || 'xy',
                                        '[^A-Za-z]+'), x -> x != ''),
         '/') AS toks,
       array_to_string(string_split('a--b--' || event_type, '--'), '/')
         AS parts
FROM events
WHERE event_id % 53 = 0
"""


def q_dialect_json_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse JSON/URL/strftime scalar query (module
    doc)."""
    return run_clickhouse_sql(spark, _CH_JSON_URL, sf_dir, ("events",))


# 13. windowFunnel — the generic N-condition transpile (multi-anchor,
#     strictly-increasing, window anchored at the chain's first event).
#     The DuckDB oracle is the independent JOIN spelling of the same
#     semantics, so fold ≡ joins is checked by the gate hash.
_CH_WINDOW_FUNNEL = """
SELECT lvl, count() AS n_users FROM (
  SELECT user_id,
         windowFunnel(86400)(ts, event_type = 'view',
                             event_type = 'click',
                             event_type = 'purchase') AS lvl
  FROM events GROUP BY user_id
) GROUP BY lvl ORDER BY lvl
"""

O_WINDOW_FUNNEL = """
WITH l1 AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
l2 AS (
  SELECT DISTINCT v.user_id
  FROM events v JOIN events c ON c.user_id = v.user_id
  WHERE v.event_type = 'view' AND c.event_type = 'click'
    AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 24 HOUR),
l3 AS (
  SELECT DISTINCT v.user_id
  FROM events v
  JOIN events c ON c.user_id = v.user_id
  JOIN events p ON p.user_id = v.user_id
  WHERE v.event_type = 'view' AND c.event_type = 'click'
    AND p.event_type = 'purchase'
    AND c.ts > v.ts AND p.ts > c.ts
    AND p.ts <= v.ts + INTERVAL 24 HOUR),
users AS (SELECT DISTINCT user_id FROM events),
lv AS (
  SELECT CASE WHEN users.user_id IN (SELECT user_id FROM l3) THEN 3
              WHEN users.user_id IN (SELECT user_id FROM l2) THEN 2
              WHEN users.user_id IN (SELECT user_id FROM l1) THEN 1
              ELSE 0 END AS lvl
  FROM users)
SELECT lvl, COUNT(*) AS n_users FROM lv GROUP BY lvl ORDER BY lvl
"""


def q_dialect_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse windowFunnel query (module doc)."""
    return run_clickhouse_sql(spark, _CH_WINDOW_FUNNEL, sf_dir, ("events",))


# 14. retention — the per-condition flag product, verbatim.  The
#     fixed-length flag array is projected to scalar columns at the
#     gate boundary via ClickHouse 1-based subscripts (driver's
#     canonicalizer cannot hash list cells, CORRECTNESS_r05).
_CH_RETENTION = """
SELECT user_id, r[1] AS r1, r[2] AS r2, r[3] AS r3
FROM (
  SELECT user_id,
         retention(event_type = 'view', event_type = 'click',
                   event_type = 'purchase') AS r
  FROM events
  GROUP BY user_id
)
ORDER BY user_id
"""

O_RETENTION = """
SELECT user_id,
       CAST(MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS INT)
         AS r1,
       CAST(MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
            * MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS INT)
         AS r2,
       CAST(MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
            * MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS INT) AS r3
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def q_dialect_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse retention query (module doc)."""
    return run_clickhouse_sql(spark, _CH_RETENTION, sf_dir, ("events",))


# 15. sequenceMatch — the (?1).*(?2) subsequence form; oracle is the
#     exists-ordered-pair join spelling.
_CH_SEQ_MATCH = """
SELECT user_id,
       sequenceMatch('(?1).*(?2)')(ts, event_type = 'click',
                                   event_type = 'purchase') AS cp
FROM events
GROUP BY user_id
ORDER BY user_id
"""

O_SEQ_MATCH = """
SELECT e.user_id,
       CAST(MAX(CASE WHEN EXISTS (
           SELECT 1 FROM events p
           WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
             AND p.ts > e.ts)
         AND e.event_type = 'click' THEN 1 ELSE 0 END) AS SMALLINT) AS cp
FROM events e
GROUP BY e.user_id
ORDER BY e.user_id
"""


def q_dialect_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse sequenceMatch query (module doc)."""
    return run_clickhouse_sql(spark, _CH_SEQ_MATCH, sf_dir, ("events",))


# 15b. sequenceCount — non-overlapping chain count with ClickHouse's
#      restart-after-match semantics.  The oracle is an INDEPENDENT
#      relational spelling (run-length alternation counting: collapse
#      consecutive view/purchase runs; chains = half the run count
#      after dropping a leading purchase-run), so the fold semantics
#      are differentially proven, not copied.
_CH_SEQ_COUNT = """
SELECT user_id,
       sequenceCount('(?1).*(?2)')(ts, event_type = 'view',
                                   event_type = 'purchase') AS n_chains
FROM events
GROUP BY user_id
ORDER BY user_id
"""

O_SEQ_COUNT = """
WITH vp AS (
  SELECT user_id, ts,
         CASE WHEN event_type = 'view' THEN 1 ELSE 2 END AS c
  FROM events WHERE event_type IN ('view', 'purchase')),
runs AS (
  SELECT user_id, c,
         CASE WHEN lag(c) OVER (PARTITION BY user_id ORDER BY ts)
                   IS DISTINCT FROM c THEN 1 ELSE 0 END AS is_start,
         CASE WHEN lag(c) OVER (PARTITION BY user_id ORDER BY ts)
                   IS NULL AND c = 2 THEN 1 ELSE 0 END AS leading_p
  FROM vp),
agg AS (
  SELECT user_id, SUM(is_start) AS m, MAX(leading_p) AS lp
  FROM runs GROUP BY user_id)
SELECT u.user_id,
       CAST(coalesce((a.m - a.lp) // 2, 0) AS BIGINT) AS n_chains
FROM (SELECT DISTINCT user_id FROM events) u
LEFT JOIN agg a USING (user_id)
ORDER BY u.user_id
"""


def q_dialect_sequence_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse sequenceCount query (module doc)."""
    return run_clickhouse_sql(spark, _CH_SEQ_COUNT, sf_dir, ("events",))


# 15c. sequenceMatch adjacency + time guards (r8, VERDICT r7 item 4):
#      the generalized extremal-anchor fold (_sequence_match_fold).
#      Three shapes real CH funnels use: an upper-bound guard
#      (view→purchase within the hour), bare adjacency (purchase
#      IMMEDIATELY after click among the supplied event kinds —
#      unreferenced third condition makes 'view' visible so it
#      breaks chains, CH's documented rule), and a lower-bound guard
#      over a REPEATED ref ((?1)…(?1): two views a day apart).
#      Oracles are independent relational spellings (EXISTS pair
#      with the epoch-µs gap; window-next over the visible subset;
#      min/max span) — differential proof, not a re-derivation.
_CH_SEQ_GUARD = """
SELECT user_id,
       sequenceMatch('(?1)(?t<=3600)(?2)')(
           ts, event_type = 'view', event_type = 'purchase') AS vp_1h,
       sequenceMatch('(?1)(?2)')(
           ts, event_type = 'click', event_type = 'purchase',
           event_type = 'view') AS cp_adj,
       sequenceMatch('(?1)(?t>86400)(?1)')(
           ts, event_type = 'view') AS vv_1d
FROM events
GROUP BY user_id
ORDER BY user_id
"""

O_SEQ_GUARD = """
WITH vp AS (
  SELECT e.user_id, MAX(CASE WHEN EXISTS (
      SELECT 1 FROM events p
      WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
        AND p.ts > e.ts
        AND epoch_us(p.ts) - epoch_us(e.ts) <= 3600000000)
    AND e.event_type = 'view' THEN 1 ELSE 0 END) AS m
  FROM events e GROUP BY e.user_id),
vis AS (
  SELECT user_id, ts, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts)
           AS nxt
  FROM events
  WHERE event_type IN ('click', 'purchase', 'view')),
adj AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'click' AND nxt = 'purchase'
                  THEN 1 ELSE 0 END) AS m
  FROM vis GROUP BY user_id),
vv AS (
  SELECT user_id,
         CASE WHEN COUNT(*) >= 2 AND
              epoch_us(MAX(ts)) - epoch_us(MIN(ts)) > 86400000000
              THEN 1 ELSE 0 END AS m
  FROM events WHERE event_type = 'view' GROUP BY user_id),
u AS (SELECT DISTINCT user_id FROM events)
SELECT u.user_id,
       CAST(coalesce(vp.m, 0) AS SMALLINT) AS vp_1h,
       CAST(coalesce(adj.m, 0) AS SMALLINT) AS cp_adj,
       CAST(coalesce(vv.m, 0) AS SMALLINT) AS vv_1d
FROM u
LEFT JOIN vp USING (user_id)
LEFT JOIN adj USING (user_id)
LEFT JOIN vv USING (user_id)
ORDER BY u.user_id
"""


def q_dialect_sequence_guard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse sequenceMatch adjacency/time-guard query
    (module doc #15c)."""
    return run_clickhouse_sql(spark, _CH_SEQ_GUARD, sf_dir, ("events",))


# 15d. two-sided and exact time guards — the anchor-list fold (the
#      single-sided forms above keep the O(1)-state extremal fold).
#      A two-sided guard means: some view event is followed by a
#      purchase whose gap lies INSIDE the window — neither the
#      earliest nor the latest anchor alone can decide it.
_CH_SEQ_GUARD2 = """
SELECT user_id,
       sequenceMatch('(?1)(?t<=3600)(?t>=60)(?2)')(
           ts, event_type = 'view', event_type = 'purchase')
         AS vp_window,
       sequenceMatch('(?1)(?t==60)(?2)')(
           ts, event_type = 'view', event_type = 'purchase')
         AS vp_exact
FROM events
GROUP BY user_id
ORDER BY user_id
"""

O_SEQ_GUARD2 = """
WITH w AS (
  SELECT e.user_id, MAX(CASE WHEN e.event_type = 'view' AND EXISTS (
      SELECT 1 FROM events p
      WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
        AND epoch_us(p.ts) - epoch_us(e.ts) >= 60000000
        AND epoch_us(p.ts) - epoch_us(e.ts) <= 3600000000)
    THEN 1 ELSE 0 END) AS m
  FROM events e GROUP BY e.user_id),
x AS (
  SELECT e.user_id, MAX(CASE WHEN e.event_type = 'view' AND EXISTS (
      SELECT 1 FROM events p
      WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
        AND epoch_us(p.ts) - epoch_us(e.ts) = 60000000)
    THEN 1 ELSE 0 END) AS m
  FROM events e GROUP BY e.user_id),
u AS (SELECT DISTINCT user_id FROM events)
SELECT u.user_id,
       CAST(coalesce(w.m, 0) AS SMALLINT) AS vp_window,
       CAST(coalesce(x.m, 0) AS SMALLINT) AS vp_exact
FROM u
LEFT JOIN w USING (user_id)
LEFT JOIN x USING (user_id)
ORDER BY u.user_id
"""


def q_dialect_sequence_guard2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse sequenceMatch two-sided/exact guard query
    (module doc #15d)."""
    return run_clickhouse_sql(
        spark, _CH_SEQ_GUARD2, sf_dir, ("events",)
    )


# 11b. topKWeighted(k)(x, w) — exact weighted tier (weight-sum desc,
#      value asc), serialized at the gate boundary like topK.
_CH_TOPK_WEIGHTED = """
SELECT o_orderstatus,
       arrayStringConcat(
         topKWeighted(3)(o_orderpriority, toUInt64(o_orderkey % 7 + 1)),
         ',') AS top_prios
FROM orders
GROUP BY o_orderstatus
"""

O_TOPK_WEIGHTED = """
SELECT o_orderstatus,
       array_to_string(
         list_slice(list(o_orderpriority ORDER BY w DESC,
                         o_orderpriority), 1, 3), ',') AS top_prios
FROM (
  SELECT o_orderstatus, o_orderpriority,
         SUM(o_orderkey % 7 + 1) AS w
  FROM orders GROUP BY 1, 2
)
GROUP BY o_orderstatus
"""


def q_dialect_topk_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse topKWeighted query, exact tier (module
    doc)."""
    return run_clickhouse_sql(spark, _CH_TOPK_WEIGHTED, sf_dir, ("orders",))


# 17. DISTINCT ON — ClickHouse documents it as identical to LIMIT 1
#     BY; the ORDER BY makes the kept row per user deterministic
#     (latest event, event_id tiebreak).
_CH_DISTINCT_ON = """
SELECT DISTINCT ON (user_id) user_id, event_id, event_type
FROM events
ORDER BY user_id, ts DESC, event_id
"""

O_DISTINCT_ON = """
SELECT user_id, event_id, event_type FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id) AS rn
  FROM events) WHERE rn = 1
"""


def q_dialect_distinct_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse DISTINCT ON query (module doc)."""
    return run_clickhouse_sql(spark, _CH_DISTINCT_ON, sf_dir, ("events",))


# 18. expression-form WITH + ::Type casts + toTypeName + LIMIT WITH
#     TIES in one statement — the "modern ClickHouse SQL" surface a
#     migrant's ad-hoc queries lean on.
_CH_MODERN = """
WITH (SELECT max(o_totalprice::Decimal(18, 2)) FROM orders) AS mx,
     0.5 AS half
SELECT o_orderkey,
       toFloat64(o_totalprice::Decimal(18, 2)) AS price,
       toTypeName(o_orderkey) AS keytype,
       toFloat64(((mx - o_totalprice::Decimal(18, 2)) * half)
                     ::Decimal(18, 3)) AS half_gap,
       o_orderdate
FROM orders
ORDER BY o_orderdate
LIMIT 100 WITH TIES
"""

# half_gap is exact end-to-end: o_totalprice is a 2-decimal value, so
# the double->DECIMAL(18,2) cast is unambiguous in any rounding mode;
# subtraction and the *0.5 (a decimal literal on both engines) stay in
# decimal, and the final DECIMAL(18,3) cast widens scale without
# rounding. The ::Decimal internals (the construct under test) are
# unchanged; the OUTER projection casts both decimal columns to
# Float64/DOUBLE because the driver's hasher stringifies Spark
# ``Decimal('40334.475')`` against DuckDB-via-pandas float64
# ``40334.475`` and trailing-zero scale breaks the hash even on
# bit-identical values (VERDICT r8 adjudication; the 3-decimal value
# is exact, so the double conversion is identical on both engines).
O_MODERN = """
WITH mx AS (SELECT max(CAST(o_totalprice AS DECIMAL(18,2))) AS v
            FROM orders)
SELECT o_orderkey,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
       'bigint' AS keytype,
       CAST(CAST((mx.v - CAST(o_totalprice AS DECIMAL(18,2))) * 0.5
                 AS DECIMAL(18,3)) AS DOUBLE) AS half_gap,
       o_orderdate
FROM orders, mx
QUALIFY rank() OVER (ORDER BY o_orderdate) <= 100
ORDER BY o_orderdate
"""


def q_dialect_modern_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse scalar-WITH / :: / toTypeName / WITH TIES
    query (module doc)."""
    return run_clickhouse_sql(spark, _CH_MODERN, sf_dir, ("orders",))


# 19. star modifiers — ``* EXCEPT … REPLACE … APPLY …`` expands via
#     the catalog resolver into an explicit projection (ClickHouse
#     SELECT-modifier docs); APPLY names follow ClickHouse (`f(col)`).
_CH_STAR_MODIFIERS = """
SELECT * EXCEPT (s_acctbal)
         REPLACE (concat(s_name, '-x') AS s_name)
         APPLY (toString) APPLY (length)
FROM supplier
"""

O_STAR_MODIFIERS = """
SELECT length(CAST(s_suppkey AS VARCHAR))
         AS "length(toString(s_suppkey))",
       length(CAST(concat(s_name, '-x') AS VARCHAR))
         AS "length(toString(s_name))",
       length(CAST(s_nationkey AS VARCHAR))
         AS "length(toString(s_nationkey))"
FROM supplier
"""


def q_dialect_star_modifiers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse star-modifier query (module doc #19)."""
    return run_clickhouse_sql(
        spark, _CH_STAR_MODIFIERS, sf_dir, ("supplier",)
    )


# 21. -State/-Merge two-level aggregation — the AggregatingMergeTree
#     query pattern: an inner GROUP BY materializes partial states,
#     the outer one merges them.  For the self-merging tier
#     (sum/count/min/max) the state is the partial value itself, so
#     both levels are native Spark aggregates — partial/final
#     aggregation with map-side combine, the 100 TB-correct shape.
_CH_STATE_MERGE = """
SELECT o_orderstatus,
       toFloat64(sumMerge(s)) AS total_price,
       countMerge(c) AS n_orders,
       minMerge(mn) AS min_key,
       maxMerge(mx) AS max_key
FROM (
    SELECT o_orderstatus, o_orderpriority,
           sumState(toDecimal64(o_totalprice, 2)) AS s,
           countState() AS c,
           minState(o_orderkey) AS mn,
           maxState(o_orderkey) AS mx
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
)
GROUP BY o_orderstatus
"""

O_STATE_MERGE = """
SELECT o_orderstatus,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_price,
       COUNT(*) AS n_orders,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM orders
GROUP BY o_orderstatus
"""


def q_dialect_state_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse -State/-Merge two-level aggregate (module
    doc #21)."""
    return run_clickhouse_sql(
        spark, _CH_STATE_MERGE, sf_dir, ("orders",)
    )


# 21b. non-self-merging states with PORTABLE Spark representations:
#      avg's state is the (sum, count) pair (merge divides in DOUBLE
#      — CH avgMerge returns Float64), uniqExact's state is the
#      value set itself (exact distinct carries it in CH too), and
#      groupArray's state is the collected array (flatten on merge).
#      Both levels stay native Spark aggregates — partial/final with
#      map-side combine; only uniq (HLL byte state → hll.py) and
#      quantile (reservoir) still refuse.
_CH_STATE_MERGE2 = """
SELECT o_orderpriority,
       avgMerge(a) AS avg_price,
       uniqExactMerge(u) AS n_cust,
       arrayStringConcat(arraySort(groupArrayMerge(g)), ',') AS key_mods
FROM (
    SELECT o_orderpriority, o_orderstatus,
           avgState(toDecimal64(o_totalprice, 2)) AS a,
           uniqExactState(o_custkey) AS u,
           groupArrayIfState(o_orderkey % 7, o_orderkey % 997 = 0) AS g
    FROM orders
    GROUP BY o_orderpriority, o_orderstatus
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

O_STATE_MERGE2 = """
SELECT o_orderpriority,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         / CAST(COUNT(o_totalprice) AS DOUBLE) AS avg_price,
       COUNT(DISTINCT o_custkey) AS n_cust,
       COALESCE(array_to_string(
         list_sort(list(o_orderkey % 7) FILTER (WHERE o_orderkey % 997 = 0)),
         ','), '') AS key_mods
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_dialect_state_merge2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse avg/uniqExact/groupArray -State/-Merge
    two-level aggregate (module doc #21b)."""
    return run_clickhouse_sql(
        spark, _CH_STATE_MERGE2, sf_dir, ("orders",)
    )


# 21c. the last -State refusals closed (r8): uniqState → the
#      portable HLL code-set state (bounded ≤ 256·53 entries,
#      MAX-mergeable registers — the AggregatingMergeTree
#      uniqState/uniqMerge pattern, CH's single most common MV
#      shape), quantileState → the exact sorted multiset (CH's own
#      quantileExact state; deterministic where CH's reservoir is
#      not), quantileTimingState → the run-length value-binned
#      sketch over CH's documented 1ms/[0,30000] domain (bounded
#      state).  Both levels remain native Spark aggregates with
#      map-side combine; finalize is a per-output-row higher-order
#      fold.  See the helper docs above _render_call.
_CH_STATE_MERGE3 = """
SELECT o_orderstatus,
       uniqMerge(u) AS uniq_cust,
       quantileMerge(0.9)(q) AS p90_price,
       quantileTimingMerge(0.5)(qt) AS med_price_pct
FROM (
    SELECT toYYYYMM(o_orderdate) AS ym, o_orderstatus,
           uniqState(o_custkey) AS u,
           quantileState(o_totalprice) AS q,
           quantileTimingState(o_totalprice / 100) AS qt
    FROM orders
    GROUP BY ym, o_orderstatus
)
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def _o_state_merge3() -> str:
    """DuckDB oracle for #21c — the merged-state results equal the
    same sketches computed directly per status (register merge is a
    MAX, multiset merge a concat), so the oracle computes each
    portable algorithm once over the raw rows with bit-identical
    arithmetic (same md5-prefix hash, same estimator literals, same
    interpolation shape, exact-integer timing read-off)."""
    from clickhouse_vs_dbt_spark.operators.dedup import md5p_sql
    from clickhouse_vs_dbt_spark.operators.hll import M, _NUM, _SCALE

    h = md5p_sql("CAST(o_custkey AS VARCHAR)", "duckdb")
    lo = "CAST(floor(h) AS BIGINT) + 1"
    hi = "least(CAST(floor(h) AS BIGINT) + 2, len(L))"
    est = (
        f"CASE WHEN {_NUM} / (s + ({M} - seen) * {_SCALE}) <= 2.5 * {M} "
        f"AND seen < {M} "
        f"THEN {M} * ln(CAST({M} AS DOUBLE) / ({M} - seen)) "
        f"ELSE {_NUM} / (s + ({M} - seen) * {_SCALE}) END"
    )
    clamp = (
        "CAST(least(30000, greatest(0, CAST(floor("
        "CAST(o_totalprice / 100 AS DOUBLE) + 0.5) AS INT))) AS INT)"
    )
    return f"""
WITH du AS (SELECT DISTINCT o_orderstatus, o_custkey FROM orders),
hv AS (SELECT o_orderstatus, {h} AS hv FROM du),
reg AS (
  SELECT o_orderstatus, hv % {M} AS bucket,
         MAX(CASE WHEN hv // {M} = 0 THEN 53
                  ELSE 53 - length(bin(hv // {M})) END) AS rank
  FROM hv GROUP BY o_orderstatus, hv % {M}),
uc AS (
  SELECT o_orderstatus,
         CAST(floor({est} + 0.5) AS BIGINT) AS uniq_cust
  FROM (SELECT o_orderstatus, COUNT(*) AS seen,
               CAST(SUM(CAST(1 AS BIGINT) << (53 - rank)) AS BIGINT) AS s
        FROM reg GROUP BY o_orderstatus)),
qs AS (
  SELECT o_orderstatus,
         list_sort(list(CAST(o_totalprice AS DOUBLE))) AS L
  FROM orders GROUP BY o_orderstatus),
p90 AS (
  SELECT o_orderstatus,
         (CAST(1.0 AS DOUBLE) - (h - floor(h))) * L[{lo}]
           + (h - floor(h)) * L[{hi}] AS p90_price
  FROM (SELECT o_orderstatus, L,
               (CAST(len(L) - 1 AS DOUBLE) * CAST(0.9 AS DOUBLE)) AS h
        FROM qs)),
tb AS (
  SELECT o_orderstatus, {clamp} AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY o_orderstatus, {clamp}),
tc AS (
  SELECT o_orderstatus, v,
         SUM(c) OVER (PARTITION BY o_orderstatus ORDER BY v) AS cum,
         SUM(c) OVER (PARTITION BY o_orderstatus) AS n
  FROM tb),
tmed AS (
  SELECT o_orderstatus,
         CAST(MIN(CASE WHEN cum >= greatest(CAST(1 AS BIGINT),
               CAST(ceil(CAST(0.5 AS DECIMAL(9,6)) * n) AS BIGINT))
              THEN v END) AS DOUBLE) AS med_price_pct
  FROM tc GROUP BY o_orderstatus)
SELECT uc.o_orderstatus, uniq_cust, p90_price, med_price_pct
FROM uc
JOIN p90 ON uc.o_orderstatus = p90.o_orderstatus
JOIN tmed ON uc.o_orderstatus = tmed.o_orderstatus
ORDER BY uc.o_orderstatus
"""


def q_dialect_state_merge3(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse uniq/quantile/quantileTiming
    -State/-Merge two-level aggregate (module doc #21c)."""
    return run_clickhouse_sql(
        spark, _CH_STATE_MERGE3, sf_dir, ("orders",)
    )


# 21d (r9). argMax/argMin -State/-Merge: the portable state is the
#     extremal (value, arg) struct — struct compare is value-major, so
#     MAX/MIN merges partial states losslessly (the max-by-struct
#     register CH packs into argMaxState).  NULL values mask at state
#     creation; value ties break deterministically by the extremal arg
#     (CH keeps an arrival-order "any" — documented strictness
#     upgrade).  Both levels stay native Spark aggregates with
#     map-side combine; the -If form masks at -State creation.
_CH_STATE_MERGE4 = """
SELECT o_orderstatus,
       argMaxMerge(hi) AS top_prio,
       argMinMerge(lo) AS cheapest_key,
       argMaxIfMerge(hiu) AS top_prio_urgent
FROM (
    SELECT toYYYYMM(o_orderdate) AS ym, o_orderstatus,
           argMaxState(o_orderpriority, o_totalprice) AS hi,
           argMinState(o_orderkey, o_totalprice) AS lo,
           argMaxIfState(o_orderpriority, o_totalprice,
                         o_orderkey % 2 = 0) AS hiu
    FROM orders
    GROUP BY ym, o_orderstatus
)
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""

# the oracle computes the identical extremal-struct fold in one level
# (merge of per-ym extremal structs = the global extremal struct, by
# associativity of struct MAX/MIN) with the same NULL mask and the
# same value-major/arg-tiebreak compare
O_STATE_MERGE4 = """
SELECT o_orderstatus,
       max(CASE WHEN o_totalprice IS NOT NULL THEN
           {'v': o_totalprice, 'a': o_orderpriority} END).a
         AS top_prio,
       min(CASE WHEN o_totalprice IS NOT NULL THEN
           {'v': o_totalprice, 'a': o_orderkey} END).a
         AS cheapest_key,
       max(CASE WHEN o_orderkey % 2 = 0
                 AND o_totalprice IS NOT NULL THEN
           {'v': o_totalprice, 'a': o_orderpriority} END).a
         AS top_prio_urgent
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def q_dialect_state_merge4(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse argMax/argMin -State/-Merge two-level
    aggregate (module doc #21d)."""
    return run_clickhouse_sql(
        spark, _CH_STATE_MERGE4, sf_dir, ("orders",)
    )


# 21e (r9). PASTE JOIN: positional zip of two ordered subqueries —
#     maps to an inner join on row_number() over each side's own
#     ORDER BY (see _rewrite_paste_join); the cheapest and the
#     priciest orders zip rank-for-rank.
_CH_PASTE_JOIN = """
SELECT cheap_key, cheap_price, rich_key, rich_price
FROM (SELECT o_orderkey AS cheap_key,
             o_totalprice AS cheap_price
      FROM orders
      ORDER BY cheap_price, cheap_key
      LIMIT 100)
PASTE JOIN (SELECT o_orderkey AS rich_key,
                   o_totalprice AS rich_price
            FROM orders
            ORDER BY rich_price DESC, rich_key
            LIMIT 100)
ORDER BY cheap_key
"""

O_PASTE_JOIN = """
WITH l AS (SELECT o_orderkey AS cheap_key,
                  o_totalprice AS cheap_price,
                  row_number() OVER (ORDER BY o_totalprice,
                                     o_orderkey) AS rn
           FROM orders QUALIFY rn <= 100),
     r AS (SELECT o_orderkey AS rich_key,
                  o_totalprice AS rich_price,
                  row_number() OVER (ORDER BY o_totalprice DESC,
                                     o_orderkey) AS rn
           FROM orders QUALIFY rn <= 100)
SELECT cheap_key, cheap_price, rich_key, rich_price
FROM l JOIN r USING (rn)
ORDER BY cheap_key
"""


def q_dialect_paste_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse PASTE JOIN over two ordered subqueries
    (module doc #21e)."""
    return run_clickhouse_sql(
        spark, _CH_PASTE_JOIN, sf_dir, ("orders",)
    )


# 21f (r9). deterministic tiers of the order/randomness-dependent
#     group-array aggregates (VERDICT r8 item 8, the topK exact-tier
#     precedent): groupArraySample(n, seed) ranks elements by the
#     engine-portable md5 prefix of (value, seed) and keeps the n
#     smallest — seeded, reproducible across engines where CH's is
#     random; groupArrayLast(n)(x, ord) is the two-arg deterministic
#     tier (last n by ord — CH's insertion order is undefined under
#     distributed merge, so the bare form refuses).  Arrays project
#     through arrayStringConcat at the gate boundary (the driver's
#     canonicalizer cannot hash list cells — the retention precedent).
_CH_GROUP_ARRAY_TIERS = """
SELECT o_orderstatus,
       arrayStringConcat(arrayMap(k -> toString(k),
           groupArraySample(5, 42)(o_orderkey)), ',') AS sample_keys,
       arrayStringConcat(groupArrayLast(4)(o_orderpriority,
                                           o_orderkey), ',')
         AS last_prios
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def _o_group_array_tiers() -> str:
    from clickhouse_vs_dbt_spark.operators.dedup import md5p_sql

    h = md5p_sql(
        "concat(CAST(k AS VARCHAR), ':', '42')", "duckdb"
    )
    return f"""
WITH b AS (
  SELECT o_orderstatus AS st, o_orderkey AS k,
         o_orderpriority AS p, {h} AS hv
  FROM orders),
samp AS (
  SELECT st, string_agg(CAST(k AS VARCHAR), ',' ORDER BY hv)
           AS sample_keys
  FROM (SELECT st, k, hv,
               row_number() OVER (PARTITION BY st ORDER BY hv) AS rn
        FROM b)
  WHERE rn <= 5 GROUP BY st),
lastp AS (
  SELECT st, string_agg(p, ',' ORDER BY k) AS last_prios
  FROM (SELECT st, p, k,
               row_number() OVER (PARTITION BY st ORDER BY k DESC)
                 AS rn
        FROM b)
  WHERE rn <= 4 GROUP BY st)
SELECT samp.st AS o_orderstatus, sample_keys, last_prios
FROM samp JOIN lastp ON samp.st = lastp.st
ORDER BY o_orderstatus
"""


def q_dialect_group_array_tiers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse groupArraySample / groupArrayLast
    deterministic tiers (module doc #21f)."""
    return run_clickhouse_sql(
        spark, _CH_GROUP_ARRAY_TIERS, sf_dir, ("orders",)
    )


# 21g (r9). punycode/IDNA family over Python's built-in RFC 3492 /
#     IDNA2003 codecs (compat.py ch_idn — the refusal wall closed;
#     Arrow-batched, no Catalyst spelling exists).  The oracle
#     exercises the pure-ASCII algebra on table data (punycode of
#     ASCII is s || '-'; IDNA passes ASCII labels through) plus one
#     non-ASCII literal row pinned to the RFC-computed value — the
#     non-ASCII tables themselves are unit-tested against the codec
#     (test_r9_idn_family).
_CH_IDN_FAMILY = """
SELECT name,
       punycodeEncode(name) AS puny,
       tryPunycodeDecode(punycodeEncode(name)) AS round_trip,
       idnaEncode(concat(name, '.example.com')) AS idna_host
FROM (
    SELECT replaceAll(lower(n_name), ' ', '-') AS name FROM nation
    UNION ALL
    SELECT 'münchen'
)
ORDER BY name
"""

O_IDN_FAMILY = """
SELECT name,
       CASE WHEN name = 'münchen' THEN 'mnchen-3ya'
            ELSE name || '-' END AS puny,
       name AS round_trip,
       CASE WHEN name = 'münchen'
            THEN 'xn--mnchen-3ya.example.com'
            ELSE name || '.example.com' END AS idna_host
FROM (
    SELECT replace(lower(n_name), ' ', '-') AS name FROM nation
    UNION ALL
    SELECT 'münchen'
)
ORDER BY name
"""


def q_dialect_idn_family(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse punycode/IDNA query (module doc #21g)."""
    return run_clickhouse_sql(
        spark, _CH_IDN_FAMILY, sf_dir, ("nation",)
    )


# 21h (r9). JSONMergePatch — RFC 7386 via the stdlib json module; the
#     DuckDB oracle runs its native json_merge_patch (verified output-
#     identical: compact serialization, target-order keys).  The JSON
#     operands are built TEXTUALLY from table data so both engines see
#     byte-identical inputs; variadic folds left.
_CH_JSON_MERGE = """
SELECT n_nationkey,
       JSONMergePatch(
           concat('{"name":"', n_name, '","rk":', toString(n_regionkey),
                  ',"tmp":1}'),
           concat('{"rk":', toString(n_regionkey + 100),
                  ',"tmp":null}'),
           '{"src":"patched"}') AS merged
FROM nation
ORDER BY n_nationkey
"""

O_JSON_MERGE = """
SELECT n_nationkey,
       CAST(json_merge_patch(json_merge_patch(
           concat('{"name":"', n_name, '","rk":',
                  CAST(n_regionkey AS VARCHAR), ',"tmp":1}'),
           concat('{"rk":', CAST(n_regionkey + 100 AS VARCHAR),
                  ',"tmp":null}')),
           '{"src":"patched"}') AS VARCHAR) AS merged
FROM nation
ORDER BY n_nationkey
"""


def q_dialect_json_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse JSONMergePatch query (module doc #21h)."""
    return run_clickhouse_sql(
        spark, _CH_JSON_MERGE, sf_dir, ("nation",)
    )


# 21i (r9). sumMap -State/-Merge (self-merging per-key partials —
#     the partial tuple-of-arrays IS the state, merge re-folds the
#     pairs) and root-form JSONType (stdlib parse classification,
#     simdjson's Int64/UInt64 width split).  The inner level groups
#     by month, the outer merges to per-status per-key totals; the
#     JSONType column classifies per-row constructed documents.
_CH_PROBE14 = """
SELECT o_orderstatus,
       arrayStringConcat(arrayMap(k -> toString(k),
           tupleElement(sumMapMerge(sm), 'keys')), ',')
         AS merged_keys,
       arrayStringConcat(arrayMap(v -> toString(v),
           tupleElement(sumMapMerge(sm), 'values')), ',')
         AS merged_vals,
       arrayStringConcat(arrayMap(v -> toString(v),
           tupleElement(minMapMerge(mm), 'values')), ',')
         AS min_vals,
       countIf(jt = 'Object') AS n_obj,
       countIf(jt = 'Array') AS n_arr,
       countIf(jt = 'UInt64') AS n_u64,
       countIf(jt = 'Int64') AS n_i64,
       countIf(jt = 'Null') AS n_null
FROM (
    SELECT toYYYYMM(o_orderdate) AS ym, o_orderstatus,
           sumMapState([o_orderkey % 3], [1]) AS sm,
           minMapState([o_orderkey % 3], [o_orderkey]) AS mm,
           JSONType(caseWithExpression(min(o_orderkey) % 5,
               0, '{"a":1}',
               1, '[1,2]',
               2, '18446744073709551615',
               3, '-7',
               'not json')) AS jt
    FROM orders
    GROUP BY ym, o_orderstatus
)
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""

O_PROBE14 = """
WITH sm AS (
  SELECT o_orderstatus,
         string_agg(CAST(k AS VARCHAR), ',' ORDER BY k) AS merged_keys,
         string_agg(CAST(CAST(c AS DOUBLE) AS VARCHAR), ','
                    ORDER BY k) AS merged_vals,
         string_agg(CAST(CAST(mn AS DOUBLE) AS VARCHAR), ','
                    ORDER BY k) AS min_vals
  FROM (SELECT o_orderstatus, o_orderkey % 3 AS k,
               COUNT(*) AS c, MIN(o_orderkey) AS mn
        FROM orders GROUP BY 1, 2)
  GROUP BY o_orderstatus),
jt AS (
  SELECT o_orderstatus,
         COUNT(CASE WHEN m = 0 THEN 1 END) AS n_obj,
         COUNT(CASE WHEN m = 1 THEN 1 END) AS n_arr,
         COUNT(CASE WHEN m = 2 THEN 1 END) AS n_u64,
         COUNT(CASE WHEN m = 3 THEN 1 END) AS n_i64,
         COUNT(CASE WHEN m = 4 THEN 1 END) AS n_null
  FROM (SELECT o_orderstatus, MIN(o_orderkey) % 5 AS m
        FROM (SELECT o_orderstatus,
                     CAST(strftime(o_orderdate, '%Y%m') AS BIGINT)
                       AS ym, o_orderkey
              FROM orders)
        GROUP BY o_orderstatus, ym)
  GROUP BY o_orderstatus)
SELECT sm.o_orderstatus, merged_keys, merged_vals, min_vals,
       n_obj, n_arr, n_u64, n_i64, n_null
FROM sm JOIN jt ON sm.o_orderstatus = jt.o_orderstatus
ORDER BY sm.o_orderstatus
"""


def q_dialect_probe14(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse sumMap/minMap -State/-Merge + JSONType
    query (module doc #21i)."""
    return run_clickhouse_sql(
        spark, _CH_PROBE14, sf_dir, ("orders",)
    )


# 21j (r9). interval sweeps: intervalLengthSum (union length, overlaps
#     merged) and maxIntersectionsPosition (leftmost peak point) —
#     both as bounded per-group sweep folds (the maxIntersections
#     machinery); the oracle runs the identical sweep with window
#     functions (running-max prev-end / cumulative ±1 with
#     first-global-max pick).
_CH_INTERVAL_SWEEPS = """
SELECT o_orderstatus,
       intervalLengthSum(o_orderkey % 97,
                         o_orderkey % 97 + o_orderkey % 7) AS ils,
       maxIntersections(o_orderkey % 97,
                        o_orderkey % 97 + o_orderkey % 7) AS mi,
       maxIntersectionsPosition(o_orderkey % 97,
                                o_orderkey % 97 + o_orderkey % 7)
         AS mip
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""

O_INTERVAL_SWEEPS = """
WITH seg AS (
  SELECT o_orderstatus AS st,
         CAST(o_orderkey % 97 AS DOUBLE) AS s,
         CAST(o_orderkey % 97 + o_orderkey % 7 AS DOUBLE) AS e
  FROM orders),
ord AS (
  SELECT st, s, e,
         MAX(e) OVER (PARTITION BY st ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING) AS prev_ce
  FROM seg),
ils AS (
  SELECT st, SUM(greatest(CAST(0 AS DOUBLE),
                 e - greatest(s, coalesce(prev_ce, s)))) AS ils
  FROM ord GROUP BY st),
pts AS (
  SELECT st, s AS p, 1 AS d FROM seg
  UNION ALL
  SELECT st, e, -1 FROM seg),
sweep AS (
  SELECT st, p, d,
         SUM(d) OVER (PARTITION BY st ORDER BY p, d
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum,
         row_number() OVER (PARTITION BY st ORDER BY p, d) AS rn
  FROM pts),
mi AS (
  SELECT st, CAST(MAX(cum) AS BIGINT) AS mi,
         arg_min(p, rn) FILTER (
           WHERE cum = (SELECT MAX(s2.cum) FROM sweep s2
                        WHERE s2.st = sweep.st)) AS mip
  FROM sweep GROUP BY st)
SELECT ils.st AS o_orderstatus, ils.ils AS ils, mi.mi AS mi,
       mi.mip AS mip
FROM ils JOIN mi ON ils.st = mi.st
ORDER BY o_orderstatus
"""


def q_dialect_interval_sweeps(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse interval-sweep aggregates (module doc
    #21j)."""
    return run_clickhouse_sql(
        spark, _CH_INTERVAL_SWEEPS, sf_dir, ("orders",)
    )


# 21k (r9). bitmap-column aggregates over the sorted-distinct-array
#     bitmap representation: within each (status, parity) group every
#     row carries the SAME 2-element bitmap, so And/Or = 2 and Xor
#     flips with the group's row-count parity — a value-sensitive
#     check of all three folds; the two-level groupBitmapState/Merge
#     equals the direct distinct count; plus the Spark-compat date
#     arrivals (YYYYMMDDToDate, toUTCTimestamp).
_CH_PROBE15 = """
SELECT o_orderstatus, par,
       groupBitmapAnd(bm) AS b_and,
       groupBitmapOr(bm) AS b_or,
       groupBitmapXor(bm) AS b_xor,
       min(YYYYMMDDToDate(20240100 + par + 1)) AS d1,
       toDate(min(toUTCTimestamp(
           makeDateTime(2024, 3, 15, 10, 0, 0), 'UTC'))) AS d2
FROM (
    SELECT o_orderstatus, o_orderkey % 2 AS par,
           bitmapBuild([o_orderkey % 2, o_orderkey % 2 + 2]) AS bm
    FROM orders
)
GROUP BY o_orderstatus, par
ORDER BY o_orderstatus, par
"""

O_PROBE15 = """
SELECT o_orderstatus, o_orderkey % 2 AS par,
       CAST(2 AS BIGINT) AS b_and,
       CAST(2 AS BIGINT) AS b_or,
       CAST(CASE WHEN COUNT(*) % 2 = 1 THEN 2 ELSE 0 END AS BIGINT)
         AS b_xor,
       DATE '2024-01-01' + CAST(o_orderkey % 2 AS INT) AS d1,
       DATE '2024-03-15' AS d2
FROM orders
GROUP BY o_orderstatus, par
ORDER BY o_orderstatus, par
"""


def q_dialect_probe15(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse bitmap-aggregate + date-arrival query
    (module doc #21k)."""
    return run_clickhouse_sql(
        spark, _CH_PROBE15, sf_dir, ("orders",)
    )


# 21l (r9). audit batch 3, value-gated: the key-function sort (CH's
#     arraySort(f, arr) — previously emitted invalid Spark), the
#     enumerate families, CI substring count, UTF8 prefix/suffix and
#     timeDiff/addMilliseconds.  The oracle spells the 3-element
#     sort/enumerations as explicit comparisons (engine-independent).
_CH_PROBE16 = """
SELECT o_orderkey,
       arrayStringConcat(arrayMap(x -> toString(x),
           arraySort(v -> -v, arr)), ',') AS sorted_desc,
       arrayStringConcat(arrayMap(x -> toString(x),
           arrayEnumerateDense(arr)), ',') AS dense,
       arrayStringConcat(arrayMap(x -> toString(x),
           arrayEnumerateUniq(arr)), ',') AS uniqn,
       countSubstringsCaseInsensitive(o_orderpriority, 'E') AS ce,
       startsWithUTF8(o_orderpriority, '1') AS sw1,
       timeDiff(o_orderdate,
                addMilliseconds(o_orderdate, 1500)) AS td
FROM (
    SELECT o_orderkey, o_orderpriority, o_orderdate,
           [o_orderkey % 7, o_orderkey % 5, o_orderkey % 3] AS arr
    FROM orders
)
ORDER BY o_orderkey
LIMIT 100
"""

O_PROBE16 = """
WITH b AS (
  SELECT o_orderkey, o_orderpriority,
         o_orderkey % 7 AS e1, o_orderkey % 5 AS e2,
         o_orderkey % 3 AS e3
  FROM orders)
SELECT o_orderkey,
       concat(CAST(greatest(e1, e2, e3) AS VARCHAR), ',',
              CAST(e1 + e2 + e3 - greatest(e1, e2, e3)
                   - least(e1, e2, e3) AS VARCHAR), ',',
              CAST(least(e1, e2, e3) AS VARCHAR)) AS sorted_desc,
       concat('1,',
              CAST(CASE WHEN e2 = e1 THEN 1 ELSE 2 END AS VARCHAR),
              ',',
              CAST(CASE WHEN e3 = e1 THEN 1
                        WHEN e3 = e2 THEN
                          CASE WHEN e2 = e1 THEN 1 ELSE 2 END
                        WHEN e2 = e1 THEN 2 ELSE 3 END AS VARCHAR))
         AS dense,
       concat('1,',
              CAST(1 + CASE WHEN e2 = e1 THEN 1 ELSE 0 END
                   AS VARCHAR), ',',
              CAST(1 + CASE WHEN e3 = e1 THEN 1 ELSE 0 END
                   + CASE WHEN e3 = e2 THEN 1 ELSE 0 END AS VARCHAR))
         AS uniqn,
       CAST(length(lower(o_orderpriority))
            - length(replace(lower(o_orderpriority), 'e', ''))
            AS BIGINT) AS ce,
       starts_with(o_orderpriority, '1') AS sw1,
       CAST(1 AS BIGINT) AS td
FROM b
ORDER BY o_orderkey
LIMIT 100
"""


def q_dialect_probe16(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse audit-batch-3 query (module doc #21l)."""
    return run_clickhouse_sql(
        spark, _CH_PROBE16, sf_dir, ("orders",)
    )


# 21m (r9). audit batch 4, value-gated: arrayFill (in-array LOCF),
#     arraySplit (pred-boundary subarrays), the offset-to-end
#     arraySlice, multi-array arrayUniq (distinct tuples) and the
#     key-lambda element aggregates.  The oracle spells each 3-element
#     result as explicit per-position CASE logic.
_CH_PROBE17 = """
SELECT o_orderkey,
       arrayStringConcat(arrayMap(g -> arrayStringConcat(
           arrayMap(x -> toString(x), g), ','),
           arraySplit(v -> v % 2 = 0, arr)), ';') AS split_txt,
       arrayStringConcat(arrayMap(x -> toString(x),
           arrayFill(v -> v % 2 = 0, arr)), ',') AS fill_txt,
       arrayStringConcat(arrayMap(x -> toString(x),
           arraySlice(arr, 2)), ',') AS tail_txt,
       arrayUniq(arr, arr2) AS u2,
       toInt64(arrayMin(v -> -v, arr)) AS negmin
FROM (
    SELECT o_orderkey,
           [o_orderkey % 7, o_orderkey % 5, o_orderkey % 3] AS arr,
           [o_orderkey % 3, o_orderkey % 5, o_orderkey % 7] AS arr2
    FROM orders
)
ORDER BY o_orderkey
LIMIT 100
"""

O_PROBE17 = """
WITH b AS (
  SELECT o_orderkey,
         o_orderkey % 7 AS e1, o_orderkey % 5 AS e2,
         o_orderkey % 3 AS e3,
         o_orderkey % 3 AS f1, o_orderkey % 5 AS f2,
         o_orderkey % 7 AS f3
  FROM orders)
SELECT o_orderkey,
       concat(CAST(e1 AS VARCHAR),
              CASE WHEN e2 % 2 = 0 THEN ';' ELSE ',' END,
              CAST(e2 AS VARCHAR),
              CASE WHEN e3 % 2 = 0 THEN ';' ELSE ',' END,
              CAST(e3 AS VARCHAR)) AS split_txt,
       concat(CAST(e1 AS VARCHAR), ',',
              CAST(CASE WHEN e2 % 2 = 0 THEN e2 ELSE e1 END
                   AS VARCHAR), ',',
              CAST(CASE WHEN e3 % 2 = 0 THEN e3
                        WHEN e2 % 2 = 0 THEN e2 ELSE e1 END
                   AS VARCHAR)) AS fill_txt,
       concat(CAST(e2 AS VARCHAR), ',', CAST(e3 AS VARCHAR))
         AS tail_txt,
       CAST(1 + CASE WHEN e2 = e1 AND f2 = f1 THEN 0 ELSE 1 END
            + CASE WHEN (e3 = e1 AND f3 = f1)
                     OR (e3 = e2 AND f3 = f2) THEN 0 ELSE 1 END
            AS INT) AS u2,
       -greatest(e1, e2, e3) AS negmin
FROM b
ORDER BY o_orderkey
LIMIT 100
"""


def q_dialect_probe17(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse audit-batch-4 query (module doc #21m)."""
    return run_clickhouse_sql(
        spark, _CH_PROBE17, sf_dir, ("orders",)
    )


# 21n (r9). uniqExact as a WINDOW function (DISTINCT window rewrite)
#     and the LIMIT offset, n comma form — the window computes over
#     the FULL relation before the subquery's order/limit (both
#     engines), so u is the per-status distinct count and the comma
#     limit slices the ordered keys.
_CH_PROBE18 = """
SELECT o_orderstatus, u, min(k) AS first_key, count() AS n_rows
FROM (
    SELECT o_orderstatus, o_orderkey AS k,
           uniqExact(o_custkey % 100)
             OVER (PARTITION BY o_orderstatus) AS u
    FROM orders
    ORDER BY o_orderkey
    LIMIT 10, 50
)
GROUP BY o_orderstatus, u
ORDER BY o_orderstatus
"""

O_PROBE18 = """
WITH lim AS (
  SELECT o_orderstatus, o_orderkey AS k
  FROM orders ORDER BY o_orderkey LIMIT 50 OFFSET 10),
uq AS (
  SELECT o_orderstatus,
         CAST(COUNT(DISTINCT o_custkey % 100) AS INT) AS u
  FROM orders GROUP BY o_orderstatus)
SELECT l.o_orderstatus, uq.u, MIN(l.k) AS first_key,
       COUNT(*) AS n_rows
FROM lim l JOIN uq ON l.o_orderstatus = uq.o_orderstatus
GROUP BY l.o_orderstatus, uq.u
ORDER BY l.o_orderstatus
"""


def q_dialect_probe18(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse distinct-window + comma-limit query
    (module doc #21n)."""
    return run_clickhouse_sql(
        spark, _CH_PROBE18, sf_dir, ("orders",)
    )


# 22. COLUMNS('regex') dynamic column selection + APPLY — expands via
#     the catalog resolver to the matching columns in table order
#     (re.search, ClickHouse's partial-match semantics), then the
#     aggregate APPLY wraps each.
_CH_COLUMNS_SELECT = """
SELECT COLUMNS('key$') APPLY (max) FROM orders
"""

O_COLUMNS_SELECT = """
SELECT max(o_orderkey) AS "max(o_orderkey)",
       max(o_custkey) AS "max(o_custkey)"
FROM orders
"""


def q_dialect_columns_select(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse COLUMNS('regex') APPLY query (module doc
    #22)."""
    return run_clickhouse_sql(
        spark, _CH_COLUMNS_SELECT, sf_dir, ("orders",)
    )


# 23. dictionaries — CREATE DICTIONARY registers the lookup contract;
#     dictGet rewrites to a correlated scalar subquery that Catalyst
#     decorrelates into a broadcast left-outer join (the dimension-
#     lookup plan).  The oracle is the equivalent explicit join.
_CH_DICTIONARY_SCRIPT = """
CREATE DICTIONARY nation_dict_g (
    n_nationkey UInt64,
    n_name String,
    n_regionkey UInt64
)
PRIMARY KEY n_nationkey
SOURCE(CLICKHOUSE(TABLE 'nation'))
LAYOUT(HASHED())
LIFETIME(MIN 0 MAX 300);

SELECT dictGet('nation_dict_g', 'n_name', c_nationkey) AS nation,
       count() AS n_custs,
       toFloat64(sum(toDecimal64(c_acctbal, 2))) AS total_bal
FROM customer
GROUP BY 1
ORDER BY 1;
"""

O_DICTIONARY = """
SELECT n.n_name AS nation,
       COUNT(*) AS n_custs,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         AS total_bal
FROM customer c LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY 1 ORDER BY 1
"""


def q_dialect_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse CREATE DICTIONARY + dictGet enrichment
    (module doc #23)."""
    register_views(spark, sf_dir, ("nation", "customer"))
    results = run_clickhouse_script(spark, _CH_DICTIONARY_SCRIPT)
    return results[-1][1]


# 20. SAMPLE clause — the DDL declares ``SAMPLE BY intHash32(key)``;
#     the SELECT's ``SAMPLE 3/10 OFFSET 1/5`` becomes a deterministic
#     hash-range slice on that key (see _rewrite_sample_clause).  The
#     script proves the full path: DDL capture → clause rewrite.
_CH_SAMPLE_SCRIPT = """
CREATE TABLE sample_orders
(
    o_orderkey      Int64,
    o_custkey       Int64,
    o_orderstatus   String,
    o_totalprice    Float64,
    o_orderdate     DateTime,
    o_orderpriority String
)
ENGINE = MergeTree
ORDER BY o_orderkey
SAMPLE BY intHash32(o_orderkey);

SELECT o_orderstatus,
       count() AS n_sampled,
       toFloat64(sum(toDecimal64(o_totalprice, 2))) AS sampled_total,
       min(o_orderkey) AS min_key,
       max(o_orderkey) AS max_key
FROM sample_orders SAMPLE 3/10 OFFSET 1/5
GROUP BY o_orderstatus;
"""


def _o_sample_dialect() -> str:
    from clickhouse_vs_dbt_spark.operators.sampling import mix_hash_sql

    # mirror the engine's exact-rational slice bounds: truncate off
    # and off+frac (NOT off and width independently) so the oracle's
    # half-open range is bit-identical to the transpiled predicate
    lo = (4294967296 * 1) // 5
    hi = (4294967296 * (1 * 10 + 3 * 5)) // 50  # = 2^32 * (1/5 + 3/10)
    h = mix_hash_sql("duckdb", "o_orderkey")
    return f"""
SELECT o_orderstatus,
       COUNT(*) AS n_sampled,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sampled_total,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM orders
WHERE {h} >= {lo} AND {h} < {hi}
GROUP BY o_orderstatus
"""


def q_dialect_sample_clause(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse DDL + SAMPLE-clause script (module doc
    #20); the CREATE TABLE is relocated onto the orders parquet."""
    results = run_clickhouse_script(
        spark,
        _CH_SAMPLE_SCRIPT,
        path_overrides={
            "sample_orders": f"{sf_dir}/orders.parquet"
        },
        overwrite_existing=True,
    )
    return results[-1][1]


# 20b. SAMPLE <row-count> (r8, VERDICT r7 item 8): the integer form
#      derives its fraction from a scalar COUNT(*) subquery at
#      execution time — same deterministic hash-range slice, runtime
#      upper bound (ClickHouse's "at least n rows" approximate
#      contract).  The oracle mirrors the dynamic bound arithmetic
#      bit-for-bit (double multiply + truncating cast on both
#      engines).
_CH_SAMPLE_ROWS_SCRIPT = """
CREATE TABLE sample_orders_n
(
    o_orderkey      Int64,
    o_custkey       Int64,
    o_orderstatus   String,
    o_totalprice    Float64,
    o_orderdate     DateTime,
    o_orderpriority String
)
ENGINE = MergeTree
ORDER BY o_orderkey
SAMPLE BY intHash32(o_orderkey);

SELECT 'plain' AS leg, o_orderstatus,
       count() AS n_sampled,
       min(o_orderkey) AS min_key,
       max(o_orderkey) AS max_key
FROM sample_orders_n SAMPLE 3000
GROUP BY o_orderstatus
UNION ALL
SELECT 'offset' AS leg, o_orderstatus,
       count() AS n_sampled,
       min(o_orderkey) AS min_key,
       max(o_orderkey) AS max_key
FROM sample_orders_n SAMPLE 2000 OFFSET 3/10
GROUP BY o_orderstatus
ORDER BY leg, o_orderstatus;
"""


def _o_sample_rows() -> str:
    from clickhouse_vs_dbt_spark.operators.sampling import mix_hash_sql

    h = mix_hash_sql("duckdb", "o_orderkey")
    # floor() matches the engine side exactly: DuckDB CAST(DOUBLE AS
    # BIGINT) rounds to nearest while Spark's truncates (ADVICE r8) —
    # both sides now truncate explicitly, so the bounds are
    # bit-identical even when 2^32*n/COUNT(*) has fraction >= 0.5
    hi = (
        "CAST(floor(least(CAST(4294967296 AS DOUBLE), "
        "4294967296.0 * 3000 / greatest(CAST(1 AS BIGINT), "
        "(SELECT COUNT(*) FROM orders)))) AS BIGINT)"
    )
    # the OFFSET leg (r12): start at floor(2^32·3/10), width clamped
    # to the REMAINING keyspace — byte-identical arithmetic to the
    # engine side's lo/hi_dyn
    lo2 = int(4294967296 * 3 // 10)
    hi2 = (
        f"CAST(floor(least(CAST({4294967296 - lo2} AS DOUBLE), "
        "4294967296.0 * 2000 / greatest(CAST(1 AS BIGINT), "
        "(SELECT COUNT(*) FROM orders)))) AS BIGINT)"
    )
    return f"""
SELECT 'plain' AS leg, o_orderstatus,
       COUNT(*) AS n_sampled,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM orders
WHERE {h} < {hi}
GROUP BY o_orderstatus
UNION ALL
SELECT 'offset' AS leg, o_orderstatus,
       COUNT(*) AS n_sampled,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM orders
WHERE {h} >= {lo2} AND {h} < {lo2} + {hi2}
GROUP BY o_orderstatus
ORDER BY leg, o_orderstatus
"""


def q_dialect_sample_rows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse DDL + integer SAMPLE n script (module doc
    #20b)."""
    results = run_clickhouse_script(
        spark,
        _CH_SAMPLE_ROWS_SCRIPT,
        path_overrides={
            "sample_orders_n": f"{sf_dir}/orders.parquet"
        },
        overwrite_existing=True,
    )
    return results[-1][1]


# 16b (r8). the blue/green full-reload runbook: load the restated
#     dataset into a staging table, EXCHANGE TABLES to cut over, read
#     from the live name.  The oracle applies the restatement
#     analytically over the raw rows — if the swap had gone the wrong
#     way (live keeps the old partial load) both the counts and the
#     totals diverge.
_CH_BLUE_GREEN = """
CREATE TABLE bg_live
(o_orderkey Int64, o_orderstatus String, o_totalprice Float64)
ENGINE = MergeTree ORDER BY o_orderkey;

CREATE TABLE bg_stage
(o_orderkey Int64, o_orderstatus String, o_totalprice Float64)
ENGINE = MergeTree ORDER BY o_orderkey;

INSERT INTO bg_live
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders WHERE o_orderkey % 2 = 0;

INSERT INTO bg_stage
SELECT o_orderkey, o_orderstatus, o_totalprice + 10
FROM orders;

EXCHANGE TABLES bg_live AND bg_stage;

SET max_threads = 16;

SELECT o_orderstatus, count() AS n,
       toFloat64(sum(toDecimal64(o_totalprice, 2))) AS total
FROM bg_live
GROUP BY o_orderstatus
ORDER BY o_orderstatus;
"""

O_BLUE_GREEN = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice + 10 AS DECIMAL(18,2))) AS DOUBLE)
         AS total
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def q_ch_script_blue_green(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse blue/green reload script (module doc
    #16b)."""
    import shutil

    register_views(spark, sf_dir, ("orders",))
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    for t in ("bg_live", "bg_stage", "__exchange_tmp_bg_live"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        # a managed table renamed by EXCHANGE keeps its original
        # directory, so a later DROP can orphan the other name's
        # location — clear both before re-running the script
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    results = run_clickhouse_script(
        spark, _CH_BLUE_GREEN, overwrite_existing=True
    )
    return results[-1][1]


# 16c (r8). the retention runbook: a PARTITION BY year table, one
#     ALTER TABLE ... DROP PARTITION per expired slice (metadata-only
#     partition unlink — ClickHouse's O(1) part-drop contract, served
#     by Spark's own DROP PARTITION on the DDL-captured column), a
#     projection ALTER that no-ops, then the rollup read.  The
#     oracle drops the slice analytically.
_CH_RETENTION_SCRIPT = """
CREATE TABLE ret_orders
(o_orderkey Int64, o_orderstatus String, o_totalprice Float64,
 o_year Int32)
ENGINE = MergeTree PARTITION BY o_year ORDER BY o_orderkey;

INSERT INTO ret_orders
SELECT o_orderkey, o_orderstatus, o_totalprice,
       toYear(o_orderdate) AS o_year
FROM orders;

ALTER TABLE ret_orders ADD PROJECTION by_status
(SELECT o_orderstatus, count() GROUP BY o_orderstatus);

ALTER TABLE ret_orders DROP PARTITION 1995;

SELECT o_year, o_orderstatus, count() AS n,
       toFloat64(sum(toDecimal64(o_totalprice, 2))) AS total
FROM ret_orders
GROUP BY o_year, o_orderstatus
ORDER BY o_year, o_orderstatus;
"""

O_RETENTION_SCRIPT = """
SELECT EXTRACT(year FROM o_orderdate)::INT AS o_year, o_orderstatus,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total
FROM orders
WHERE EXTRACT(year FROM o_orderdate) != 1995
GROUP BY o_year, o_orderstatus
ORDER BY o_year, o_orderstatus
"""


def q_ch_script_retention(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse partition-retention script (module doc
    #16c)."""
    import shutil

    register_views(spark, sf_dir, ("orders",))
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    spark.sql("DROP TABLE IF EXISTS ret_orders")
    shutil.rmtree(f"{wh}/ret_orders", ignore_errors=True)
    results = run_clickhouse_script(
        spark, _CH_RETENTION_SCRIPT, overwrite_existing=True
    )
    return results[-1][1]


# 16d. DETACH / ATTACH PARTITION — ClickHouse's park-and-restore
#      partition lifecycle (detached/ directory), r8: the partition
#      directory renames into the table's `.detached/` (dot-prefixed,
#      invisible to listings) and back, with catalog partition
#      drop/add on each side.  The detached-state aggregate is
#      COLLECTED before re-attach (bounded per-year rows) so the
#      verdict can't be rewritten by the later filesystem move; the
#      oracle restates both stages relationally.
_CH_DETACH_SCRIPT1 = """
CREATE TABLE det_orders
(o_orderkey Int64, o_orderstatus String, o_totalprice Float64,
 o_year Int32)
ENGINE = MergeTree PARTITION BY o_year ORDER BY o_orderkey;

INSERT INTO det_orders
SELECT o_orderkey, o_orderstatus, o_totalprice,
       toYear(o_orderdate) AS o_year
FROM orders;

ALTER TABLE det_orders DETACH PARTITION 1995;

SELECT o_year, count() AS n,
       toFloat64(sum(toDecimal64(o_totalprice, 2))) AS total
FROM det_orders
GROUP BY o_year
ORDER BY o_year;
"""

_CH_DETACH_SCRIPT2 = """
ALTER TABLE det_orders ATTACH PARTITION 1995;

SELECT o_year, count() AS n,
       toFloat64(sum(toDecimal64(o_totalprice, 2))) AS total
FROM det_orders
GROUP BY o_year
ORDER BY o_year;
"""

O_DETACH_SCRIPT = """
WITH y AS (
  SELECT EXTRACT(year FROM o_orderdate)::INT AS o_year,
         COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS total
  FROM orders GROUP BY 1)
SELECT 'detached' AS stage, o_year, n, total FROM y
WHERE o_year != 1995
UNION ALL
SELECT 'attached' AS stage, o_year, n, total FROM y
ORDER BY stage, o_year
"""


# 16e. cross-table partition lifecycle (r8): ATTACH PARTITION FROM
#      (copy — source keeps its data), MOVE PARTITION TO TABLE
#      (directory rename across table locations), REPLACE PARTITION
#      FROM (drop-then-copy).  po_fix holds a filtered 1994 slice so
#      the REPLACE is observable (dst's 1995 becomes odd-keys-only).
#      Final state: src keeps 1995 + (1997 minus keys%10=0 — DELETE
#      IN PARTITION); dst holds odd-1995 + 1996 with keys%100=0
#      doubled (UPDATE IN PARTITION — both mutations rewrite ONE
#      partition directory, not the table).  The oracle restates
#      both tables relationally from orders.
_CH_PARTITION_OPS = """
CREATE TABLE po_src
(o_orderkey Int64, o_totalprice Float64, o_year Int32)
ENGINE = MergeTree PARTITION BY o_year ORDER BY o_orderkey;

CREATE TABLE po_dst
(o_orderkey Int64, o_totalprice Float64, o_year Int32)
ENGINE = MergeTree PARTITION BY o_year ORDER BY o_orderkey;

CREATE TABLE po_fix
(o_orderkey Int64, o_totalprice Float64, o_year Int32)
ENGINE = MergeTree PARTITION BY o_year ORDER BY o_orderkey;

INSERT INTO po_src
SELECT o_orderkey, o_totalprice, toYear(o_orderdate) AS o_year
FROM orders WHERE toYear(o_orderdate) IN (1995, 1996, 1997);

INSERT INTO po_fix
SELECT o_orderkey, o_totalprice, toYear(o_orderdate) AS o_year
FROM orders
WHERE toYear(o_orderdate) = 1995 AND o_orderkey % 2 = 1;

ALTER TABLE po_dst ATTACH PARTITION 1995 FROM po_src;
ALTER TABLE po_src MOVE PARTITION 1996 TO TABLE po_dst;
ALTER TABLE po_dst REPLACE PARTITION 1995 FROM po_fix;

ALTER TABLE po_dst UPDATE o_totalprice = o_totalprice * 2
IN PARTITION 1996 WHERE o_orderkey % 100 = 0;
ALTER TABLE po_src DELETE IN PARTITION 1997 WHERE o_orderkey % 10 = 0;

SELECT 'src' AS tbl, o_year, count() AS n,
       toFloat64(sum(toDecimal64(o_totalprice, 2))) AS total
FROM po_src GROUP BY o_year
UNION ALL
SELECT 'dst' AS tbl, o_year, count() AS n,
       toFloat64(sum(toDecimal64(o_totalprice, 2))) AS total
FROM po_dst GROUP BY o_year
ORDER BY tbl, o_year;
"""

O_PARTITION_OPS = """
WITH y AS (
  SELECT o_orderkey,
         CAST(o_totalprice AS DECIMAL(18,2)) AS p,
         EXTRACT(year FROM o_orderdate)::INT AS o_year
  FROM orders)
SELECT 'src' AS tbl, o_year, COUNT(*) AS n,
       CAST(SUM(p) AS DOUBLE) AS total
FROM y
WHERE o_year = 1995
   OR (o_year = 1997 AND o_orderkey % 10 != 0)
GROUP BY o_year
UNION ALL
SELECT 'dst' AS tbl, o_year, COUNT(*) AS n,
       CAST(SUM(CASE WHEN o_year = 1996 AND o_orderkey % 100 = 0
                THEN CAST(p * 2 AS DECIMAL(18,2)) ELSE p END)
            AS DOUBLE) AS total
FROM y
WHERE o_year = 1996 OR (o_year = 1995 AND o_orderkey % 2 = 1)
GROUP BY o_year
ORDER BY tbl, o_year
"""


def q_ch_script_partition_ops(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse cross-table partition script (module doc
    #16e)."""
    import shutil

    register_views(spark, sf_dir, ("orders",))
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    for t in ("po_src", "po_dst", "po_fix"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    results = run_clickhouse_script(
        spark, _CH_PARTITION_OPS, overwrite_existing=True
    )
    return results[-1][1]


def q_ch_script_detach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse DETACH/ATTACH PARTITION scripts (module
    doc #16d)."""
    import shutil

    from pyspark.sql import functions as F

    register_views(spark, sf_dir, ("orders",))
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    spark.sql("DROP TABLE IF EXISTS det_orders")
    shutil.rmtree(f"{wh}/det_orders", ignore_errors=True)
    r1 = run_clickhouse_script(
        spark, _CH_DETACH_SCRIPT1, overwrite_existing=True
    )
    # pin the detached-state verdict before the files move back
    # (bounded: one row per order year)
    detached_rows = r1[-1][1].collect()
    r2 = run_clickhouse_script(spark, _CH_DETACH_SCRIPT2)
    # pin the attached-state verdict too (bounded, one row per year):
    # this gate is the only one whose partition FILES move on disk
    # between two scripts, and deferring the post-ATTACH read to
    # whenever the caller evaluates the returned plan left a window
    # in which the re-listing could observe stale catalog/file-cache
    # state (seen once as an empty attached stage in a full-suite
    # sweep at sf0.001, r16; unreproducible in isolation).  Both
    # stages now read det_orders AT SCRIPT TIME, which is also the
    # semantics the runbook describes.
    attached_rows = r2[-1][1].collect()
    stage1 = spark.createDataFrame(
        detached_rows, r1[-1][1].schema
    ).withColumn("stage", F.lit("detached"))
    stage2 = spark.createDataFrame(
        attached_rows, r2[-1][1].schema
    ).withColumn("stage", F.lit("attached"))
    return (
        stage1.unionByName(stage2)
        .select("stage", "o_year", "n", "total")
        .orderBy("stage", "o_year")
    )


# 16d2 (r12). DETACH TABLE / ATTACH TABLE (VERDICT r11 item 5, flips
#      the r6 refusal): park-and-restore over the table's own storage
#      — DETACH renames the data directory aside and drops the
#      catalog entry (data survives, name unresolvable); ATTACH
#      replays the captured CREATE and swaps the directory back.  The
#      mid-state pin (catalog no longer resolves the name) rides the
#      'detached' row; the 'attached' rows must equal the straight
#      aggregate over orders — wrong if DETACH lost data or ATTACH
#      re-registered a stale image.
_CH_DETACH_TABLE_SCRIPT1 = """
CREATE TABLE dtt_orders
(o_orderkey Int64, o_orderstatus String, o_totalprice Float64)
ENGINE = MergeTree ORDER BY o_orderkey;

INSERT INTO dtt_orders
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders;

DETACH TABLE dtt_orders;
"""

_CH_DETACH_TABLE_SCRIPT2 = """
ATTACH TABLE dtt_orders;

SELECT o_orderstatus, count() AS n,
       toFloat64(sum(toDecimal64(o_totalprice, 2))) AS total
FROM dtt_orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus;
"""

O_DETACH_TABLE = """
SELECT 'detached' AS stage, '' AS o_orderstatus,
       CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS total
UNION ALL
SELECT 'attached', o_orderstatus, COUNT(*),
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
FROM orders GROUP BY o_orderstatus
ORDER BY stage, o_orderstatus
"""


def q_ch_script_detach_table(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse DETACH/ATTACH TABLE scripts (module doc
    #16d2)."""
    import shutil

    from pyspark.sql import functions as F

    register_views(spark, sf_dir, ("orders",))
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    spark.sql("DROP TABLE IF EXISTS dtt_orders")
    shutil.rmtree(f"{wh}/dtt_orders", ignore_errors=True)
    shutil.rmtree(f"{wh}/dtt_orders.detached", ignore_errors=True)
    _DETACHED_TABLES.pop("dtt_orders", None)
    run_clickhouse_script(
        spark, _CH_DETACH_TABLE_SCRIPT1, overwrite_existing=True
    )
    # mid-state pin: the detached name must be unresolvable (0)
    gone = 1 if spark.catalog.tableExists("dtt_orders") else 0
    r2 = run_clickhouse_script(spark, _CH_DETACH_TABLE_SCRIPT2)
    stage1 = spark.createDataFrame(
        [("detached", "", gone, 0.0)],
        "stage string, o_orderstatus string, n long, total double",
    )
    stage2 = r2[-1][1].withColumn("stage", F.lit("attached")).select(
        "stage", "o_orderstatus", "n", "total"
    )
    return stage1.unionByName(stage2).orderBy(
        "stage", "o_orderstatus"
    )


# 16d3 (r13). full-definition ATTACH TABLE (VERDICT r12 item 5):
#      backup/restore runbooks write `ATTACH TABLE t (cols…)
#      ENGINE=…` with the definition inline instead of relying on
#      server metadata.  The script runner composes a CREATE from the
#      inline DDL (front door — engine info registers) with the
#      park-and-restore directory adoption; the 'attached' rows must
#      equal the straight aggregate over orders — wrong if the inline
#      definition mis-mapped or the adoption lost data.
_CH_ATTACH_FULL_SCRIPT1 = """
CREATE TABLE dtf_orders
(o_orderkey Int64, o_orderstatus String, o_totalprice Float64)
ENGINE = MergeTree ORDER BY o_orderkey;

INSERT INTO dtf_orders
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders;

DETACH TABLE dtf_orders;
"""

_CH_ATTACH_FULL_SCRIPT2 = """
ATTACH TABLE dtf_orders
(o_orderkey Int64, o_orderstatus String, o_totalprice Float64)
ENGINE = MergeTree ORDER BY o_orderkey;

SELECT o_orderstatus, count() AS n,
       toFloat64(sum(toDecimal64(o_totalprice, 2))) AS total
FROM dtf_orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus;
"""

O_ATTACH_FULL = """
SELECT 'detached' AS stage, '' AS o_orderstatus,
       CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS total
UNION ALL
SELECT 'attached', o_orderstatus, COUNT(*),
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
FROM orders GROUP BY o_orderstatus
ORDER BY stage, o_orderstatus
"""


def q_ch_script_attach_full(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse DETACH → full-definition ATTACH scripts
    (module doc #16d3)."""
    import shutil

    from pyspark.sql import functions as F

    register_views(spark, sf_dir, ("orders",))
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    spark.sql("DROP TABLE IF EXISTS dtf_orders")
    shutil.rmtree(f"{wh}/dtf_orders", ignore_errors=True)
    shutil.rmtree(f"{wh}/dtf_orders.detached", ignore_errors=True)
    _DETACHED_TABLES.pop("dtf_orders", None)
    run_clickhouse_script(
        spark, _CH_ATTACH_FULL_SCRIPT1, overwrite_existing=True
    )
    # mid-state pin: the detached name must be unresolvable (0)
    gone = 1 if spark.catalog.tableExists("dtf_orders") else 0
    r2 = run_clickhouse_script(spark, _CH_ATTACH_FULL_SCRIPT2)
    stage1 = spark.createDataFrame(
        [("detached", "", gone, 0.0)],
        "stage string, o_orderstatus string, n long, total double",
    )
    stage2 = r2[-1][1].withColumn("stage", F.lit("attached")).select(
        "stage", "o_orderstatus", "n", "total"
    )
    return stage1.unionByName(stage2).orderBy(
        "stage", "o_orderstatus"
    )


# 16. full operational lifecycle through the script runner: CREATE
#     (Replacing DDL) → INSERT … SELECT FROM file() (fires nothing —
#     no MV — but exercises the trigger path) → ALTER DELETE →
#     OPTIMIZE FINAL (physical merge-collapse) → SELECT.  The oracle
#     replays every step relationally in DuckDB.
def q_ch_script_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One verbatim ClickHouse script driving a table's whole life
    (module doc #16); every statement routes through
    :func:`run_clickhouse_script`."""
    import tempfile

    base = tempfile.mkdtemp(prefix="ch_lifecycle_")
    tbl_path = base + "/tbl"
    ins_path = base + "/ins"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    # version-1 rows for all orders
    rebalanced(
        o.selectExpr("*", "CAST(1 AS BIGINT) AS ver")
    ).write.mode("overwrite").parquet(tbl_path)
    # version-2 restatements for every third key, shipped via file()
    rebalanced(
        o.filter("o_orderkey % 3 = 0").selectExpr(
            "o_orderkey",
            "'U' AS o_orderstatus",
            "o_totalprice + 100.0 AS o_totalprice",
            "CAST(2 AS BIGINT) AS ver",
        )
    ).write.mode("overwrite").parquet(ins_path)
    script = f"""
    CREATE TABLE lc_t (o_orderkey UInt64, o_orderstatus String,
                       o_totalprice Float64, ver UInt64)
    ENGINE = ReplacingMergeTree(ver) ORDER BY o_orderkey;

    INSERT INTO lc_t SELECT * FROM file('{ins_path}', 'Parquet');

    ALTER TABLE lc_t DELETE WHERE o_orderkey % 15 = 0;

    OPTIMIZE TABLE lc_t FINAL;

    SELECT o_orderstatus, count() AS n,
           toFloat64(sum(toDecimal64(o_totalprice, 2))) AS total
    FROM lc_t GROUP BY o_orderstatus;
    """
    spark.sql("DROP TABLE IF EXISTS lc_t")
    register_views(spark, sf_dir, ("orders",))
    results = run_clickhouse_script(
        spark, script, path_overrides={"lc_t": tbl_path}
    )
    return results[-1][1]


O_CH_SCRIPT_LIFECYCLE = """
WITH all_rows AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS ver FROM orders
  UNION ALL
  SELECT o_orderkey, 'U', o_totalprice + 100.0, 2
  FROM orders WHERE o_orderkey % 3 = 0),
after_delete AS (
  SELECT * FROM all_rows WHERE NOT (o_orderkey % 15 = 0)),
merged AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM (
    SELECT *, row_number() OVER (
        PARTITION BY o_orderkey
        ORDER BY ver DESC, o_orderstatus DESC, o_totalprice DESC) AS rn
    FROM after_delete) WHERE rn = 1)
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM merged GROUP BY o_orderstatus
"""


# 16b. schema evolution through the script runner: ADD COLUMN (type
#      default AND explicit DEFAULT backfills — ClickHouse fills
#      defaults, not NULLs), MODIFY COLUMN retype, RENAME COLUMN,
#      TRUNCATE + re-INSERT, RENAME TABLE — then SELECT from the
#      final name.  The oracle replays every step relationally.
def q_ch_script_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One verbatim ClickHouse script driving schema evolution
    (module doc #16b); every statement routes through
    :func:`run_clickhouse_script`."""
    import tempfile

    base = tempfile.mkdtemp(prefix="ch_schema_evo_")
    src = base + "/src"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    rebalanced(o).write.mode("overwrite").parquet(src)
    tbl_path = base + "/evo_t"
    script = f"""
    CREATE TABLE evo_t (o_orderkey UInt64, o_orderstatus String,
                        o_totalprice Float64)
    ENGINE = MergeTree ORDER BY o_orderkey;

    INSERT INTO evo_t SELECT * FROM file('{src}', 'Parquet');

    ALTER TABLE evo_t ADD COLUMN discount Float64;

    ALTER TABLE evo_t ADD COLUMN region String DEFAULT 'unassigned';

    ALTER TABLE evo_t MODIFY COLUMN o_totalprice Decimal(18, 2);

    ALTER TABLE evo_t RENAME COLUMN o_orderstatus TO status;

    ALTER TABLE evo_t DROP COLUMN discount;

    RENAME TABLE evo_t TO orders_evolved;

    SELECT status, region, count() AS n,
           toFloat64(sum(o_totalprice)) AS total
    FROM orders_evolved GROUP BY status, region;
    """
    spark.sql("DROP TABLE IF EXISTS evo_t")
    spark.sql("DROP TABLE IF EXISTS orders_evolved")
    register_views(spark, sf_dir, ("orders",))
    # external path (fresh tempdir): no warehouse-location residue
    # across processes can break the CREATE
    results = run_clickhouse_script(
        spark, script, path_overrides={"evo_t": tbl_path}
    )
    out = results[-1][1]
    spark.sql("DROP TABLE IF EXISTS orders_evolved")
    return out


O_CH_SCRIPT_SCHEMA_EVOLUTION = """
SELECT o_orderstatus AS status, 'unassigned' AS region,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY o_orderstatus
"""


# 26. two-sample t-tests — CH's studentTTest/welchTTest aggregates
#     with positional tuple access, rewritten to flat conditional
#     power sums (exact DECIMAL(38,6) accumulation).  The oracle
#     re-derives the t statistics from the same power-sum algebra;
#     the p-value halves of the tuples have no DuckDB spelling
#     (regularized incomplete beta) and are value-pinned against
#     closed forms in tests/test_stats.py instead.
_CH_TTEST = """
SELECT round(studentTTest(value, event_type = 'error').1, 6)
         AS t_student,
       round(welchTTest(value, event_type = 'error').1, 6) AS t_welch
FROM events
WHERE event_type IN ('purchase', 'error') AND value IS NOT NULL
"""

O_TTEST = """
WITH g AS (
  SELECT
    CAST(COUNT(CASE WHEN event_type <> 'error' THEN 1 END) AS DOUBLE)
      AS n0,
    CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS DOUBLE)
      AS n1,
    CAST(SUM(CASE WHEN event_type <> 'error'
             THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE) AS s0,
    CAST(SUM(CASE WHEN event_type = 'error'
             THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE) AS s1,
    CAST(SUM(CASE WHEN event_type <> 'error'
             THEN CAST(value * value AS DECIMAL(38,6)) END) AS DOUBLE)
      AS q0,
    CAST(SUM(CASE WHEN event_type = 'error'
             THEN CAST(value * value AS DECIMAL(38,6)) END) AS DOUBLE)
      AS q1
  FROM events
  WHERE event_type IN ('purchase', 'error') AND value IS NOT NULL),
m AS (
  SELECT n0, n1, s0 / n0 AS m0, s1 / n1 AS m1,
         (q0 - s0 * s0 / n0) / (n0 - 1) AS v0,
         (q1 - s1 * s1 / n1) / (n1 - 1) AS v1
  FROM g)
SELECT round((m0 - m1) / sqrt(
         ((n0 - 1) * v0 + (n1 - 1) * v1) / (n0 + n1 - 2)
         * (1.0 / n0 + 1.0 / n1)), 6) AS t_student,
       round((m0 - m1) / sqrt(v0 / n0 + v1 / n1), 6) AS t_welch
FROM m
"""


def q_dialect_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse studentTTest/welchTTest query (module
    doc)."""
    return run_clickhouse_sql(spark, _CH_TTEST, sf_dir, ("events",))


# 26b. meanZTest — the GIVEN-population-variance z-test (parametric:
#      meanZTest(σx², σy², conf)(x, ind)).  The gate checks the z
#      statistic and both confidence-interval bounds (pure conditional
#      -sum arithmetic, restated by the oracle); the `.2` p-value path
#      (erfc, which DuckDB cannot spell) is value-checked against
#      libm in tests/test_dialect.py, the dialect_ttest precedent.
#      1.959963984540054 is Φ⁻¹(0.975), the same constant the
#      transpiler folds from the 0.95 literal via NormalDist.inv_cdf.
_CH_MEANZ = """
SELECT round(meanZTest(400.0, 380.0, 0.95)(value, event_type = 'error').1, 6)
         AS z_stat,
       round(meanZTest(400.0, 380.0, 0.95)(value, event_type = 'error').3, 6)
         AS ci_low,
       round(meanZTest(400.0, 380.0, 0.95)(value, event_type = 'error').4, 6)
         AS ci_high
FROM events
WHERE event_type IN ('purchase', 'error') AND value IS NOT NULL
"""

O_MEANZ = """
WITH g AS (
  SELECT
    CAST(COUNT(CASE WHEN event_type <> 'error' THEN 1 END) AS DOUBLE)
      AS n0,
    CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS DOUBLE)
      AS n1,
    CAST(SUM(CASE WHEN event_type <> 'error'
             THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE) AS s0,
    CAST(SUM(CASE WHEN event_type = 'error'
             THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE) AS s1
  FROM events
  WHERE event_type IN ('purchase', 'error') AND value IS NOT NULL),
m AS (
  SELECT s0 / n0 - s1 / n1 AS diff,
         sqrt(400.0 / n0 + 380.0 / n1) AS se
  FROM g)
SELECT round(diff / se, 6) AS z_stat,
       round(diff - 1.959963984540054 * se, 6) AS ci_low,
       round(diff + 1.959963984540054 * se, 6) AS ci_high
FROM m
"""


def q_dialect_meanz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse meanZTest query (module doc)."""
    return run_clickhouse_sql(spark, _CH_MEANZ, sf_dir, ("events",))


# 27. r8 scalar batch 2 (the pass-through audit): date-shift family,
#     age(), timeSlots-adjacent CASE form, arrayShingles/arrayAUC,
#     toFixedString, extractGroups, sigmoid, singleValueOrNull.  The
#     literal-argument rows (shingles of a literal array, AUC of
#     literal score/label vectors) pin constants the oracle re-states;
#     erf/erfc/lgamma/tgamma are value-checked against libm in
#     tests/test_stats.py (DuckDB has no spelling for them).
_CH_PROBE9 = """
SELECT o_orderstatus,
       round(sigmoid(toFloat64(count()) / 10000), 6) AS sig_n,
       subtractMonths(toDate(max(o_orderdate)), 2) AS m2,
       subtractYears(toDate(max(o_orderdate)), 1) AS y1,
       toDate(subtractWeeks(toDate(max(o_orderdate)), 3)) AS w3,
       age('day', toDate(min(o_orderdate)), toDate(max(o_orderdate)))
         AS span_days,
       caseWithExpression(o_orderstatus, 'F', 'final',
                          'P', 'pending', 'other') AS status_name,
       arraySum(arrayShingles([1, 2, 3, 4], 2)[1]) AS sh1_sum,
       arraySum(arrayShingles([1, 2, 3, 4], 2)[2]) AS sh2_sum,
       toFloat64(round(arrayAUC([0.1, 0.4, 0.35, 0.8],
                                [0, 0, 1, 1]), 6)) AS auc,
       length(toFixedString(o_orderstatus, 4)) AS fixlen,
       extractGroups(max(o_orderpriority), '(\\\\d)-(\\\\w+)')[2]
         AS prio_word,
       singleValueOrNull(o_orderstatus) AS sv
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""

O_PROBE9 = r"""
SELECT o_orderstatus,
       round(1.0 / (1.0 + exp(-(CAST(COUNT(*) AS DOUBLE) / 10000))),
             6) AS sig_n,
       CAST(CAST(max(o_orderdate) AS DATE) - INTERVAL 2 MONTH
            AS DATE) AS m2,
       CAST(CAST(max(o_orderdate) AS DATE) - INTERVAL 1 YEAR
            AS DATE) AS y1,
       CAST(CAST(max(o_orderdate) AS DATE) - INTERVAL 21 DAY
            AS DATE) AS w3,
       CAST(date_diff('day', CAST(min(o_orderdate) AS DATE),
                      CAST(max(o_orderdate) AS DATE)) AS BIGINT)
         AS span_days,
       CASE o_orderstatus WHEN 'F' THEN 'final'
            WHEN 'P' THEN 'pending' ELSE 'other' END AS status_name,
       CAST(3 AS DOUBLE) AS sh1_sum,
       CAST(5 AS DOUBLE) AS sh2_sum,
       CAST(0.75 AS DOUBLE) AS auc,
       4 AS fixlen,
       CASE WHEN regexp_matches(max(o_orderpriority), '(\d)-(\w+)')
            THEN regexp_extract(max(o_orderpriority),
                                '(\d)-(\w+)', 2)
            END AS prio_word,
       CASE WHEN COUNT(DISTINCT o_orderstatus) = 1
            THEN MAX(o_orderstatus) END AS sv
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def q_dialect_probe9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse scalar-batch-2 query (module doc)."""
    return run_clickhouse_sql(spark, _CH_PROBE9, sf_dir, ("orders",))


# 27b. r8 scalar batch 5: ngramDistance/ngramSearch (exact 4-gram
#      multiset contracts — see _render_call) and the mapApply
#      tuple-lambda rewrite over the entry array.  Literal-argument
#      rows pin constants the oracle re-states (the probe style);
#      per-shape behavior (degenerate inputs, case folding, multiset
#      counts) is unit-tested in tests/test_dialect.py.
_CH_PROBE10 = """
SELECT count() AS n_parts,
       round(ngramDistance('clickhouse', 'clickhome'), 6) AS ngd,
       round(ngramSearch('the quick brown fox', 'quick fox'), 6)
         AS ngs,
       ngramDistanceCaseInsensitive('ABCD', 'abcd') AS ngd_ci,
       mapApply((k, v) -> (upper(k), v * 10),
                map('a', 1, 'b', 2))['B'] AS map_b,
       mapApply((k, v) -> (k, v + length(k)), map('xy', 5))['xy']
         AS map_xy
FROM part
"""

O_PROBE10 = """
SELECT COUNT(*) AS n_parts,
       CAST(0.384615 AS DOUBLE) AS ngd,
       CAST(0.666667 AS DOUBLE) AS ngs,
       CAST(0.0 AS DOUBLE) AS ngd_ci,
       20 AS map_b,
       7 AS map_xy
FROM part
"""


def q_dialect_probe10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse scalar-batch-5 query (module doc)."""
    return run_clickhouse_sql(spark, _CH_PROBE10, sf_dir, ("part",))


# 27c. normalizeUTF8NFC/NFD/NFKC/NFKD — Unicode normalization over the
#      documents corpus via the Arrow compat UDF (ch_normalize_utf8).
#      The NFC half is data-dependent and restated by DuckDB's
#      nfc_normalize over the same rows; the NFD/NFKC/NFKD halves pin
#      canonical single-codepoint facts (é ↔ e+U+0301, Kelvin sign
#      U+212A →(NFKC) 'K') the oracle re-states as constants.
_CH_NORMALIZE = """
SELECT count() AS n_docs,
       sum(toInt64(length(normalizeUTF8NFC(text)))) AS nfc_len,
       normalizeUTF8NFC('é') AS nfc_lit,
       length(normalizeUTF8NFC('é')) AS nfc_lit_len,
       length(normalizeUTF8NFD('é')) AS nfd_len,
       normalizeUTF8NFKC('K') AS kelvin_nfkc
FROM documents
"""

O_NORMALIZE = """
SELECT COUNT(*) AS n_docs,
       CAST(SUM(length(nfc_normalize(text))) AS BIGINT) AS nfc_len,
       nfc_normalize('é') AS nfc_lit,
       CAST(length(nfc_normalize('é')) AS INT)
         AS nfc_lit_len,
       2 AS nfd_len,
       'K' AS kelvin_nfkc
FROM documents
"""


def q_dialect_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse Unicode-normalization query (module doc)."""
    return run_clickhouse_sql(spark, _CH_NORMALIZE, sf_dir, ("documents",))


# 27d. r8 scalar batch 6 (third pass-through audit): date scalars,
#      editDistance (exact levenshtein), char-set Jaccard, rotations/
#      shifts, the two-proportion z-test.  Data-dependent halves are
#      restated by DuckDB builtins (quarter / last_day / dayofyear /
#      levenshtein); the literal halves pin constants (probe style);
#      the z-test constants were folded with the same stdlib normal
#      quantile the transpiler uses.
_CH_PROBE11 = """
SELECT o_orderstatus,
       toQuarter(toDate(max(o_orderdate))) AS q,
       toLastDayOfMonth(toDate(max(o_orderdate))) AS eom,
       toDayOfYear(toDate(min(o_orderdate))) AS doy,
       editDistance(o_orderstatus, 'OF') AS ed,
       round(stringJaccardIndex('clickhouse', 'warehouse'), 6) AS ji,
       arrayStringConcat(arrayMap(x -> toString(x),
         arrayRotateLeft([1, 2, 3, 4, 5], 2)), ',') AS rotl,
       arrayStringConcat(arrayMap(x -> toString(x),
         arrayShiftRight([1, 2, 3], 1, 0)), ',') AS shr,
       round(proportionsZTest(25, 30, 100, 110, 0.95, 'unpooled').1, 6)
         AS pz,
       round(proportionsZTest(25, 30, 100, 110, 0.95, 'unpooled').4, 6)
         AS pz_hi,
       toNullable(count()) AS n
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

O_PROBE11 = """
SELECT o_orderstatus,
       CAST(quarter(CAST(max(o_orderdate) AS DATE)) AS INT) AS q,
       last_day(CAST(max(o_orderdate) AS DATE)) AS eom,
       CAST(dayofyear(CAST(min(o_orderdate) AS DATE)) AS INT) AS doy,
       CAST(levenshtein(o_orderstatus, 'OF') AS INT) AS ed,
       CAST(0.416667 AS DOUBLE) AS ji,
       '3,4,5,1,2' AS rotl,
       '0,1,2' AS shr,
       CAST(-0.374742 AS DOUBLE) AS pz,
       CAST(0.09614 AS DOUBLE) AS pz_hi,
       COUNT(*) AS n
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q_dialect_probe11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse scalar-batch-6 query (module doc)."""
    return run_clickhouse_sql(spark, _CH_PROBE11, sf_dir, ("orders",))


# 27e. nonNegativeDerivative in WINDOW position (r8) — the
#      deterministic OVER form expands to max(0, Δvalue/Δseconds)
#      with the window duplicated onto both lag references (frame
#      clause stripped for lag).  The oracle restates the expansion
#      with DuckDB's own lag + epoch arithmetic.
_CH_WINDOW_DERIVATIVE = """
SELECT event_type,
       round(sum(r), 4) AS sum_rate,
       round(max(r), 4) AS max_rate
FROM (
    SELECT event_type,
           nonNegativeDerivative(value, ts)
             OVER (PARTITION BY event_type ORDER BY ts, event_id) AS r
    FROM events WHERE value IS NOT NULL
)
GROUP BY event_type
ORDER BY event_type
"""

O_WINDOW_DERIVATIVE = """
WITH w AS (
  SELECT event_type,
         coalesce(greatest(0.0,
           (value - lag(value) OVER
              (PARTITION BY event_type ORDER BY ts, event_id))
           / nullif(epoch(ts) - epoch(lag(ts) OVER
              (PARTITION BY event_type ORDER BY ts, event_id)), 0.0)),
           0.0) AS r
  FROM events WHERE value IS NOT NULL)
SELECT event_type,
       round(sum(r), 4) AS sum_rate,
       round(max(r), 4) AS max_rate
FROM w GROUP BY event_type ORDER BY event_type
"""


def q_dialect_window_derivative(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse nonNegativeDerivative window query (module
    doc)."""
    return run_clickhouse_sql(
        spark, _CH_WINDOW_DERIVATIVE, sf_dir, ("events",)
    )


# 27h. r8 scalar batch 8: the roaring-bitmap family (portable
#      representation: the sorted distinct array — same value set,
#      no compressed container), XML escapes, tuple field access,
#      relative-epoch numbers, micro/nano timestamp codecs.  Literal
#      halves pin constants; the relative nums restate as the CH
#      DateLUT arithmetic (year·12+month / year·4+quarter₀).
_CH_PROBE13 = """
SELECT o_orderstatus,
       toRelativeMonthNum(toDate(max(o_orderdate))) AS rm,
       toRelativeQuarterNum(toDate(max(o_orderdate))) AS rq,
       bitmapCardinality(bitmapBuild([1, 2, 2, 3])) AS bc,
       arrayStringConcat(arrayMap(x -> toString(x),
         bitmapXor(bitmapBuild([1, 2, 3]), bitmapBuild([2, 4]))), ',')
         AS bx,
       bitmapHasAll(bitmapBuild([1, 2, 3]), bitmapBuild([1, 3]))
         AS bh,
       encodeXMLComponent('<a&b>') AS ex,
       count() AS n
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

O_PROBE13 = """
SELECT o_orderstatus,
       CAST(EXTRACT(year FROM max(o_orderdate)) * 12
            + EXTRACT(month FROM max(o_orderdate)) AS INT) AS rm,
       CAST(EXTRACT(year FROM max(o_orderdate)) * 4
            + (EXTRACT(month FROM max(o_orderdate)) - 1) // 3
            AS INT) AS rq,
       3 AS bc,
       '1,3,4' AS bx,
       true AS bh,
       '&lt;a&amp;b&gt;' AS ex,
       COUNT(*) AS n
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q_dialect_probe13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse scalar-batch-8 query (module doc)."""
    return run_clickhouse_sql(spark, _CH_PROBE13, sf_dir, ("orders",))


# 27g. exponentialTimeDecayed{Sum,Count} window functions (r8) — the
#      decay-weighted frame folds (_exp_time_decayed).  The oracle
#      restates each row's fold as a pairwise self-join on a small
#      deterministic slice (lexicographic (ts, event_id) frame — the
#      unique order key makes RANGE == ROWS), then reduces.
_CH_EXP_DECAY = """
SELECT round(sum(s), 2) AS total_decayed,
       round(max(c), 6) AS max_count
FROM (
    SELECT exponentialTimeDecayedSum(3600)(value, ts)
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS s,
           exponentialTimeDecayedCount(3600)(ts)
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS c
    FROM events
    WHERE event_type = 'purchase' AND user_id % 50 = 0
      AND value IS NOT NULL
)
"""

O_EXP_DECAY = """
WITH e AS (
  SELECT user_id, event_id, value, epoch(ts) AS t
  FROM events
  WHERE event_type = 'purchase' AND user_id % 50 = 0
    AND value IS NOT NULL),
p AS (
  SELECT a.user_id, a.event_id,
         SUM(b.value * exp((b.t - a.t) / 3600.0)) AS s,
         SUM(exp((b.t - a.t) / 3600.0)) AS c
  FROM e a JOIN e b
    ON b.user_id = a.user_id
   AND (b.t < a.t OR (b.t = a.t AND b.event_id <= a.event_id))
  GROUP BY a.user_id, a.event_id)
SELECT round(SUM(s), 2) AS total_decayed,
       round(MAX(c), 6) AS max_count
FROM p
"""


def q_dialect_exp_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse exponentialTimeDecayed window query
    (module doc)."""
    return run_clickhouse_sql(spark, _CH_EXP_DECAY, sf_dir, ("events",))


# 27f. -ArgMin/-ArgMax combinators (r8 batch 7) — aggregate x over
#      only the rows carrying the group's extremal y.  Exact-valued
#      columns only (counts, integer sums, min/max picks) so the
#      order-insensitive hash is stable; the DuckDB oracle filters on
#      a windowed max/min of the same key.
_CH_ARGMAX_COMBINATORS = """
SELECT o_orderstatus,
       countArgMax(o_totalprice, toYYYYMM(o_orderdate)) AS n_last,
       toInt64(sumArgMax(o_orderkey % 97, toYYYYMM(o_orderdate)))
         AS key_sum_last,
       minArgMax(o_totalprice, toYYYYMM(o_orderdate)) AS min_last,
       maxArgMin(o_totalprice, toYYYYMM(o_orderdate)) AS max_first
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""

O_ARGMAX_COMBINATORS = """
WITH t AS (
  SELECT o_orderstatus, o_orderkey, o_totalprice,
         EXTRACT(year FROM o_orderdate) * 100
           + EXTRACT(month FROM o_orderdate) AS ym,
         MAX(EXTRACT(year FROM o_orderdate) * 100
             + EXTRACT(month FROM o_orderdate))
           OVER (PARTITION BY o_orderstatus) AS ym_max,
         MIN(EXTRACT(year FROM o_orderdate) * 100
             + EXTRACT(month FROM o_orderdate))
           OVER (PARTITION BY o_orderstatus) AS ym_min
  FROM orders)
SELECT o_orderstatus,
       COUNT(CASE WHEN ym = ym_max THEN 1 END) AS n_last,
       CAST(SUM(CASE WHEN ym = ym_max THEN o_orderkey % 97 END)
            AS BIGINT) AS key_sum_last,
       MIN(CASE WHEN ym = ym_max THEN o_totalprice END) AS min_last,
       MAX(CASE WHEN ym = ym_min THEN o_totalprice END) AS max_first
FROM t GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q_dialect_argmax_combinators(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse -ArgMax/-ArgMin combinator query (module
    doc)."""
    return run_clickhouse_sql(
        spark, _CH_ARGMAX_COMBINATORS, sf_dir, ("orders",)
    )


# 28. ClickHouse vector-math family over the embeddings table —
#     dot/norm/distance/cosine as codegen HOF folds (batch 3).  The
#     float32→double promotion happens per element on BOTH engines
#     (Spark CAST in the lambda, DuckDB list element cast), and each
#     lane sums in array order inside one row — deterministic, no
#     partitioning dependence; round-6 gates the doubles.
_CH_VECTOR = """
SELECT label,
       round(toFloat64(sum(toDecimal64(round(L2Norm(embedding), 6),
                                       6))) / count(), 6) AS avg_l2,
       round(toFloat64(sum(toDecimal64(round(L1Norm(embedding), 6),
                                       6))) / count(), 6) AS avg_l1,
       round(max(LinfNorm(embedding)), 6) AS max_linf,
       round(toFloat64(sum(toDecimal64(round(
           dotProduct(embedding, embedding), 6), 6))) / count(), 6)
         AS avg_self_dot
FROM embeddings
GROUP BY label
ORDER BY label
"""

# per-row doubles are rounded to 6 decimals, cast to exact DECIMAL,
# and summed associatively (the repo's double-aggregate discipline) —
# the group mean is then one double division, partitioning-free
O_VECTOR = """
WITH n AS (
  SELECT label,
    sqrt(list_sum(list_transform(embedding,
         v -> CAST(v AS DOUBLE) * v))) AS l2,
    list_sum(list_transform(embedding,
         v -> abs(CAST(v AS DOUBLE)))) AS l1,
    list_max(list_transform(embedding,
         v -> abs(CAST(v AS DOUBLE)))) AS linf,
    list_sum(list_transform(embedding,
         v -> CAST(v AS DOUBLE) * v)) AS selfdot
  FROM embeddings)
SELECT label,
       round(CAST(SUM(CAST(round(l2, 6) AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS avg_l2,
       round(CAST(SUM(CAST(round(l1, 6) AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS avg_l1,
       round(max(linf), 6) AS max_linf,
       round(CAST(SUM(CAST(round(selfdot, 6) AS DECIMAL(18,6)))
                  AS DOUBLE) / COUNT(*), 6) AS avg_self_dot
FROM n GROUP BY label ORDER BY label
"""


def q_dialect_vector_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse vector-math query (module doc)."""
    return run_clickhouse_sql(
        spark, _CH_VECTOR, sf_dir, ("embeddings",)
    )


# 32 (r10). deterministic id-generator tier (VERDICT r9 missing-item
#     3): generateUUIDv4/v7(expr) and generateSnowflakeID(expr) derive
#     every non-version bit from md5(expr) — a pure function of the
#     argument, so DuckDB replays the identical derivation (md5 is
#     md5).  The zero-arg forms are faithfully random/time-ordered and
#     therefore unit-tested for SHAPE, not value-gated.
_CH_UUID_GENERATORS = """
SELECT k,
       generateUUIDv7(k) AS u7,
       generateUUIDv4(concat('s', toString(k))) AS u4,
       generateSnowflakeID(k) AS sf
FROM (SELECT o_orderkey AS k FROM orders WHERE o_orderkey <= 40)
ORDER BY k
"""

O_UUID_GENERATORS = """
WITH t AS (SELECT o_orderkey AS k,
                  md5(CAST(o_orderkey AS VARCHAR)) AS h7,
                  md5('s' || CAST(o_orderkey AS VARCHAR)) AS h4
           FROM orders WHERE o_orderkey <= 40)
SELECT k,
       substr(h7, 1, 8) || '-' || substr(h7, 9, 4) || '-7' ||
       substr(h7, 14, 3) || '-' ||
       list_extract(['8', '9', 'a', 'b'],
           ((strpos('0123456789abcdef', substr(h7, 17, 1)) - 1) % 4)
           + 1) ||
       substr(h7, 18, 3) || '-' || substr(h7, 21, 12) AS u7,
       substr(h4, 1, 8) || '-' || substr(h4, 9, 4) || '-4' ||
       substr(h4, 14, 3) || '-' ||
       list_extract(['8', '9', 'a', 'b'],
           ((strpos('0123456789abcdef', substr(h4, 17, 1)) - 1) % 4)
           + 1) ||
       substr(h4, 18, 3) || '-' || substr(h4, 21, 12) AS u4,
       CAST(list_sum(list_transform(range(1, 16), i ->
           CAST(strpos('0123456789abcdef', substr(h7, i, 1)) - 1
                AS BIGINT) * (CAST(1 AS BIGINT) << ((15 - i) * 4))))
            AS BIGINT) AS sf
FROM t
ORDER BY k
"""


def q_dialect_uuid_generators(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim ClickHouse seeded id-generator query (module doc)."""
    return run_clickhouse_sql(
        spark, _CH_UUID_GENERATORS, sf_dir, ("orders",)
    )


# 31 (r10). sumWithOverflow at every declared width (VERDICT r9
#     item 7): the width comes from the inline toUIntN/toIntN cast
#     (the CH DDL width is invisible to the transpiler; the bare form
#     refuses with that hint).  The fixture's 64-bit column wraps the
#     sum several times over (~2⁶¹ per row × |orders| rows), the
#     narrow widths exercise signed adjustment and per-term pre-wrap.
#     DuckDB's HUGEINT sum makes the oracle exact modular arithmetic.
_CH_SUM_OVERFLOW = """
SELECT sumWithOverflow(toUInt8(k % 256)) AS u8,
       sumWithOverflow(toInt8(k % 128 - 64)) AS i8,
       sumWithOverflow(toUInt32(k * 999331)) AS u32,
       sumWithOverflow(toInt64(big)) AS i64,
       toString(sumWithOverflow(toUInt64(big))) AS u64
FROM (SELECT o_orderkey AS k,
             2305843009213693951 - o_orderkey * 7 AS big
      FROM orders)
"""
# u64 gates as a STRING: the exact unsigned value exceeds BIGINT and a
# DOUBLE cast would blur the wrap (53-bit mantissa at ~2⁶⁴ scale) —
# the decimal-output driver hazard (CORRECTNESS r5/r9) avoided without
# losing a single bit.

O_SUM_OVERFLOW = """
WITH t AS (SELECT o_orderkey AS k,
                  2305843009213693951 - o_orderkey * 7 AS big
           FROM orders),
s AS (SELECT CAST(SUM(k % 256) AS HUGEINT) AS s8,
             CAST(SUM(k % 128 - 64) AS HUGEINT) AS si8,
             CAST(SUM(k * 999331) AS HUGEINT) AS s32,
             CAST(SUM(CAST(big AS HUGEINT)) AS HUGEINT) AS s64
      FROM t)
SELECT CAST(s8 % 256 AS BIGINT) AS u8,
       CAST(CASE WHEN ((si8 % 256) + 256) % 256 >= 128
                 THEN ((si8 % 256) + 256) % 256 - 256
                 ELSE ((si8 % 256) + 256) % 256 END AS BIGINT) AS i8,
       CAST(s32 % 4294967296 AS BIGINT) AS u32,
       CAST(CASE WHEN ((s64 % 18446744073709551616)
                       + 18446744073709551616) % 18446744073709551616
                      >= 9223372036854775808
                 THEN ((s64 % 18446744073709551616)
                       + 18446744073709551616) % 18446744073709551616
                      - 18446744073709551616
                 ELSE ((s64 % 18446744073709551616)
                       + 18446744073709551616) % 18446744073709551616
            END AS BIGINT) AS i64,
       CAST(((s64 % 18446744073709551616) + 18446744073709551616)
            % 18446744073709551616 AS VARCHAR) AS u64
FROM s
"""


def q_dialect_sum_overflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse sumWithOverflow query (module doc)."""
    return run_clickhouse_sql(spark, _CH_SUM_OVERFLOW, sf_dir, ("orders",))


# 30 (r10). path-form JSON introspection (VERDICT r9 item 6):
#     JSONType(doc, steps…) / JSONAllPaths / JSONExtractKeysAndValuesRaw
#     through the stdlib path walk (compat.py) — four constructed
#     document shapes cover object/array/scalar walks, positive and
#     negative member indexing, the UInt64 width split, miss-at-step
#     and unparseable-input markers.  The oracle pins the expected
#     classification per document shape (the walk is deterministic on
#     literals, so the constants ARE the contract — the
#     groupArraySample seeded-tier precedent).
_CH_JSON_PATHS = """
SELECT DISTINCT
       o_orderkey % 4 AS tag,
       JSONType(doc, 'a') AS t_a,
       JSONType(doc, 'a', 'b') AS t_ab,
       JSONType(doc, 'a', 'b', -1) AS t_tail,
       JSONType(doc, 2) AS t_pos2,
       JSONType(doc, 'missing') AS t_miss,
       arrayStringConcat(JSONAllPaths(doc), ',') AS paths,
       arrayStringConcat(arrayMap(t ->
           concat(tupleElement(t, 'k'), '=', tupleElement(t, 'v')),
           JSONExtractKeysAndValuesRaw(doc)), ';') AS kv
FROM (
  SELECT o_orderkey,
         caseWithExpression(o_orderkey % 4,
           0, '{"a":{"b":[1,"x",true]},"n":18446744073709551615}',
           1, '{"a":{"b":-7},"s":"5","z":{"q":{"r":1.5}}}',
           2, '{"a":[],"e":{}}',
           'not json') AS doc
  FROM orders WHERE o_orderkey <= 64
)
ORDER BY tag
"""

O_JSON_PATHS = """
SELECT DISTINCT
       o_orderkey % 4 AS tag,
       CASE o_orderkey % 4 WHEN 0 THEN 'Object' WHEN 1 THEN 'Object'
            WHEN 2 THEN 'Array' ELSE 'Null' END AS t_a,
       CASE o_orderkey % 4 WHEN 0 THEN 'Array' WHEN 1 THEN 'Int64'
            ELSE 'Null' END AS t_ab,
       CASE o_orderkey % 4 WHEN 0 THEN 'Bool' ELSE 'Null' END AS t_tail,
       CASE o_orderkey % 4 WHEN 0 THEN 'UInt64' WHEN 1 THEN 'String'
            WHEN 2 THEN 'Object' ELSE 'Null' END AS t_pos2,
       'Null' AS t_miss,
       CASE o_orderkey % 4 WHEN 0 THEN 'a.b,n' WHEN 1 THEN 'a.b,s,z.q.r'
            WHEN 2 THEN 'a,e' ELSE '' END AS paths,
       CASE o_orderkey % 4
            WHEN 0 THEN 'a={"b":[1,"x",true]};n=18446744073709551615'
            WHEN 1 THEN 'a={"b":-7};s="5";z={"q":{"r":1.5}}'
            WHEN 2 THEN 'a=[];e={}' ELSE '' END AS kv
FROM orders WHERE o_orderkey <= 64
ORDER BY tag
"""


def q_dialect_json_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse path-form JSON introspection query (module
    doc)."""
    return run_clickhouse_sql(spark, _CH_JSON_PATHS, sf_dir, ("orders",))


# 29 (r10). fuzzy string-metric family (VERDICT r9 item 5):
#     damerauLevenshteinDistance / jaroSimilarity /
#     jaroWinklerSimilarity as Arrow-batched textbook implementations
#     (compat.py).  DuckDB ships the identical three metrics, so the
#     oracle replays them natively — cross-validated on 500 fixture
#     pairs with zero mismatches before gating.  Floats round through
#     DECIMAL on both sides (the r1-r2 drift class).
_CH_FUZZY_FAMILY = """
SELECT p_partkey,
       damerauLevenshteinDistance(p_name, p_type) AS dl,
       levenshteinDistance(p_name, p_type) AS lev,
       round(jaroSimilarity(p_name, p_type), 6) AS js,
       round(jaroWinklerSimilarity(p_name, p_type), 6) AS jw,
       round(jaroSimilarity(substring(p_name, 1, 1),
                            substring(p_type, 1, 1)), 6) AS js1,
       round(jaroWinklerSimilarity(substring(p_name, 1, 4),
                                   substring(p_type, 1, 4)), 6) AS jw4
FROM part
WHERE p_partkey <= 300
ORDER BY p_partkey
"""
# js1/jw4 pin the short-string edges the long p_name/p_type pairs never
# reach: the 1-char match window clamp and Winkler's 0.7 boost
# threshold (code-review r10) — both replayed natively by DuckDB.

O_FUZZY_FAMILY = """
SELECT p_partkey,
       damerau_levenshtein(p_name, p_type) AS dl,
       levenshtein(p_name, p_type) AS lev,
       ROUND(jaro_similarity(p_name, p_type), 6) AS js,
       ROUND(jaro_winkler_similarity(p_name, p_type), 6) AS jw,
       ROUND(jaro_similarity(substring(p_name, 1, 1),
                             substring(p_type, 1, 1)), 6) AS js1,
       ROUND(jaro_winkler_similarity(substring(p_name, 1, 4),
                                     substring(p_type, 1, 4)), 6) AS jw4
FROM part
WHERE p_partkey <= 300
ORDER BY p_partkey
"""


def q_dialect_fuzzy_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse fuzzy string-metric query (module doc)."""
    return run_clickhouse_sql(spark, _CH_FUZZY_FAMILY, sf_dir, ("part",))


# 31 (r11). -Resample combinator (VERDICT r10 item 2): the parametric
#     fooResample(start, stop, step)(args…, key) spelling expands at
#     transpile time to one -If aggregate per key bucket and returns
#     the bucket ARRAY — four -If-capable heads gated (count, decimal
#     sum, max, uniqExact; all hash-stable), buckets split out via the
#     1-based subscript so the driver canonicalizer never hashes list
#     cells.  The last bucket [41, 51) exercises the shorter-tail rule
#     (stop cuts the subinterval).
_CH_RESAMPLE = """
SELECT l_returnflag,
       c[1] AS c1, c[2] AS c2, c[3] AS c3,
       toFloat64(s[1]) AS s1, toFloat64(s[2]) AS s2,
       toFloat64(s[3]) AS s3,
       m[1] AS m1, m[3] AS m3,
       u[1] AS u1, u[2] AS u2
FROM (
  SELECT l_returnflag,
         countResample(1, 51, 20)(l_quantity) AS c,
         sumResample(1, 51, 20)(toDecimal64(l_extendedprice, 2),
                                l_quantity) AS s,
         maxResample(1, 51, 20)(l_discount, l_quantity) AS m,
         uniqExactResample(1, 51, 20)(l_suppkey, l_quantity) AS u
  FROM lineitem
  GROUP BY l_returnflag
)
ORDER BY l_returnflag
"""

O_RESAMPLE = """
SELECT l_returnflag,
       count(*) FILTER (WHERE l_quantity >= 1 AND l_quantity < 21) AS c1,
       count(*) FILTER (WHERE l_quantity >= 21 AND l_quantity < 41) AS c2,
       count(*) FILTER (WHERE l_quantity >= 41 AND l_quantity < 51) AS c3,
       CAST(COALESCE(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
            FILTER (WHERE l_quantity >= 1 AND l_quantity < 21), 0)
            AS DOUBLE) AS s1,
       CAST(COALESCE(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
            FILTER (WHERE l_quantity >= 21 AND l_quantity < 41), 0)
            AS DOUBLE) AS s2,
       CAST(COALESCE(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
            FILTER (WHERE l_quantity >= 41 AND l_quantity < 51), 0)
            AS DOUBLE) AS s3,
       max(l_discount)
           FILTER (WHERE l_quantity >= 1 AND l_quantity < 21) AS m1,
       max(l_discount)
           FILTER (WHERE l_quantity >= 41 AND l_quantity < 51) AS m3,
       count(DISTINCT l_suppkey)
           FILTER (WHERE l_quantity >= 1 AND l_quantity < 21) AS u1,
       count(DISTINCT l_suppkey)
           FILTER (WHERE l_quantity >= 21 AND l_quantity < 41) AS u2
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q_dialect_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ClickHouse -Resample combinator query (module doc)."""
    return run_clickhouse_sql(spark, _CH_RESAMPLE, sf_dir, ("lineitem",))


# 32 (r11). fixed-width reinterpretAs* byte algebra + literal-tuple
#     arithmetic + extractAllGroups matrices (VERDICT r10 items 3-5,
#     flipping the batch-6/8/9 refusals).  String inputs exercise the
#     little-endian byte pipeline against DuckDB's independent
#     ascii·256^i spelling (incl. the zero-pad of names shorter than
#     the width); integral inputs exercise the width-truncation path
#     (192+k%64 lands in the signed-negative half).  Tuple results
#     project through tupleElement so no struct reaches the driver
#     canonicalizer; the group matrices flatten via arrayStringConcat.
_CH_REINTERPRET_TUPLES = """
SELECT p_partkey AS k,
       reinterpretAsUInt16(substring(p_name, 1, 2)) AS u16,
       reinterpretAsUInt32(substring(p_name, 1, 4)) AS u32,
       toString(reinterpretAsUInt64(substring(p_name, 1, 8))) AS u64,
       reinterpretAsInt8(192 + p_partkey % 64) AS i8,
       reinterpretAsUInt8(p_partkey * 7) AS u8,
       reinterpretAsString(65 + p_partkey % 26) AS ch,
       reinterpretAsDate(p_partkey % 20000) AS d,
       tupleElement(tuplePlus((p_partkey, p_size), (7, 11)), 'col1')
           AS tp1,
       tupleElement(tupleMultiply((p_partkey, p_size), (2, 3)), 'col2')
           AS tm2,
       tupleElement(tupleNegate((p_size, p_partkey)), 'col1') AS tn1,
       tupleHammingDistance((p_partkey % 2, p_size % 3, 1),
                            (0, 0, 1)) AS thd,
       arrayStringConcat(arrayMap(g -> arrayStringConcat(g, '|'),
           extractAllGroupsVertical(p_name, '(\\\\w+) (\\\\w+)')), ';')
           AS vg,
       arrayStringConcat(
           extractAllGroupsHorizontal(p_name, '([a-z]+)o([a-z]+)')[1],
           ',') AS hg
FROM part WHERE p_partkey <= 300 ORDER BY p_partkey
"""

O_REINTERPRET_TUPLES = r"""
SELECT p_partkey AS k,
       CAST(ascii(substring(p_name, 1, 1))
            + 256 * ascii(substring(p_name, 2, 1)) AS BIGINT) AS u16,
       CAST(ascii(substring(p_name, 1, 1))
            + 256 * ascii(substring(p_name, 2, 1))
            + 65536 * ascii(substring(p_name, 3, 1))
            + 16777216 * ascii(substring(p_name, 4, 1)) AS BIGINT)
           AS u32,
       CAST(CAST(ascii(substring(p_name, 1, 1)) AS BIGINT)
            + 256 * ascii(substring(p_name, 2, 1))
            + 65536 * ascii(substring(p_name, 3, 1))
            + 16777216 * ascii(substring(p_name, 4, 1))
            + 4294967296 * ascii(substring(p_name, 5, 1))
            + 1099511627776 * ascii(substring(p_name, 6, 1))
            + 281474976710656 * ascii(substring(p_name, 7, 1))
            + 72057594037927936 * ascii(substring(p_name, 8, 1))
            AS VARCHAR) AS u64,
       CAST(192 + p_partkey % 64 - 256 AS BIGINT) AS i8,
       CAST((p_partkey * 7) % 256 AS BIGINT) AS u8,
       chr(CAST(65 + p_partkey % 26 AS INT)) AS ch,
       CAST(DATE '1970-01-01'
            + (p_partkey % 20000) * INTERVAL 1 DAY AS DATE) AS d,
       p_partkey + 7 AS tp1,
       p_size * 3 AS tm2,
       -p_size AS tn1,
       CAST(p_partkey % 2 != 0 AS INT) + CAST(p_size % 3 != 0 AS INT)
           + 0 AS thd,
       COALESCE(array_to_string(list_transform(
           generate_series(1, len(regexp_extract_all(p_name,
               '(\w+) (\w+)', 1))),
           i -> regexp_extract_all(p_name, '(\w+) (\w+)', 1)[i]
                || '|'
                || regexp_extract_all(p_name, '(\w+) (\w+)', 2)[i]),
           ';'), '') AS vg,
       COALESCE(array_to_string(regexp_extract_all(p_name,
           '([a-z]+)o([a-z]+)', 1), ','), '') AS hg
FROM part WHERE p_partkey <= 300 ORDER BY p_partkey
"""


def q_dialect_reinterpret_tuples(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim CH reinterpret/tuple/group-matrix query (module doc)."""
    return run_clickhouse_sql(
        spark, _CH_REINTERPRET_TUPLES, sf_dir, ("part",)
    )


# 33 (r11). hilbertEncode/hilbertDecode (VERDICT r10 item 6): the 2-D
#     Hilbert index fold (operators/zorder.py) through the dialect —
#     the query proves in-engine bijectivity (decode∘encode = id on
#     every row, the zorder xback/yback precedent) and the DuckDB
#     oracle replays the exact 32-level fold as a recursive CTE, so
#     the curve itself (not just the roundtrip) is value-checked.
_CH_HILBERT = """
SELECT k, h, tupleElement(d, 'x') AS xb, tupleElement(d, 'y') AS yb,
       ident
FROM (
  SELECT k, h, hilbertDecode(2, h) AS d, ident
  FROM (
    SELECT o_orderkey AS k,
           hilbertEncode(o_orderkey % 512,
                         intDiv(o_orderkey, 7) % 512) AS h,
           hilbertEncode(o_orderkey) AS ident
    FROM orders WHERE o_orderkey <= 400
  )
)
ORDER BY k
"""
# the encode/decode folds bind ONCE in subqueries: each is a 32-level
# expression tree, and spelling them per output column tripled the
# ANALYSIS cost (4.1 s at 400 rows — r11 bench)

O_HILBERT = """
WITH RECURSIVE pts AS (
  SELECT o_orderkey AS k,
         CAST((o_orderkey // 7) % 512 AS BIGINT) AS x0,
         CAST(o_orderkey % 512 AS BIGINT) AS y0
  FROM orders WHERE o_orderkey <= 400
),
f AS (
  SELECT k, x0 AS x, y0 AS y, CAST(0 AS BIGINT) AS d, 31 AS i FROM pts
  UNION ALL
  SELECT k,
         CASE WHEN ry = 1 THEN x WHEN rx = 1 THEN s - 1 - y ELSE y END,
         CASE WHEN ry = 1 THEN y WHEN rx = 1 THEN s - 1 - x ELSE x END,
         d + s * s * xor(3 * rx, ry),
         i - 1
  FROM (SELECT k, x, y, d, i,
               CAST(1 AS BIGINT) << i AS s,
               (x >> i) & 1 AS rx, (y >> i) & 1 AS ry
        FROM f WHERE i >= 0) t
)
SELECT p.k AS k, f.d AS h, p.y0 AS xb, p.x0 AS yb,
       CAST(p.k AS BIGINT) AS ident
FROM pts p JOIN f ON f.k = p.k AND f.i = -1
ORDER BY k
"""


def q_dialect_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim CH hilbertEncode/Decode query (module doc)."""
    return run_clickhouse_sql(spark, _CH_HILBERT, sf_dir, ("orders",))


# 34 (r11). quantileExactWeighted family (audit batch 11): CH's
#     non-interpolating exact-weighted rule — smallest value whose
#     cumulative weight reaches level·Σw — as a collect-and-fold
#     aggregate, checked against DuckDB's independent cumulative-
#     window spelling (the operators/stats.py weighted_median
#     construction generalized to three levels).  Integer weights
#     keep every comparison exact in both engines.
_CH_WEIGHTED_QUANTILES = """
SELECT l_returnflag,
       quantileExactWeighted(0.25)(l_quantity, l_linenumber) AS q25,
       medianExactWeighted(l_quantity, l_linenumber) AS q50,
       quantileExactWeighted(0.75)(l_quantity, l_linenumber) AS q75,
       quantileExactWeighted(l_quantity, l_linenumber) AS qdef
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

O_WEIGHTED_QUANTILES = """
WITH agg AS (
  SELECT l_returnflag AS g, l_quantity AS x,
         CAST(SUM(l_linenumber) AS BIGINT) AS wt
  FROM lineitem GROUP BY g, x),
cum AS (
  SELECT g, x,
         SUM(wt) OVER (PARTITION BY g ORDER BY x) AS cw,
         SUM(wt) OVER (PARTITION BY g) AS tot
  FROM agg)
SELECT g AS l_returnflag,
       MIN(CASE WHEN cw >= 0.25 * tot THEN x END) AS q25,
       MIN(CASE WHEN cw >= 0.5 * tot THEN x END) AS q50,
       MIN(CASE WHEN cw >= 0.75 * tot THEN x END) AS q75,
       MIN(CASE WHEN cw >= 0.5 * tot THEN x END) AS qdef
FROM cum GROUP BY g ORDER BY g
"""


def q_dialect_weighted_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim CH exact-weighted quantile query (module doc)."""
    return run_clickhouse_sql(
        spark, _CH_WEIGHTED_QUANTILES, sf_dir, ("lineitem",)
    )


# 34c (r15, VERDICT r14 item 4). exact-weighted quantiles in
#     EXPRESSION positions: nested in whitelisted scalar wrappers
#     (round, arithmetic between two calls, a group key in the
#     residual), the statement still re-plans to the
#     value-compressed two-pass window — tests pin that the
#     rendered SQL carries no collect; this gate pins the VALUES
#     against DuckDB's independent cumulative-window spelling.
_CH_QW_EXPR = """
SELECT l_returnflag,
       round(quantileExactWeighted(0.9)(l_quantity, l_linenumber)
             - quantileExactWeighted(0.1)(l_quantity, l_linenumber),
             3) AS spread,
       toInt64(quantileExactWeighted(0.5)(l_quantity, l_linenumber))
           AS med_i
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

O_QW_EXPR = """
WITH agg AS (
  SELECT l_returnflag AS g, l_quantity AS x,
         CAST(SUM(l_linenumber) AS BIGINT) AS wt
  FROM lineitem GROUP BY g, x),
cum AS (
  SELECT g, x,
         SUM(wt) OVER (PARTITION BY g ORDER BY x) AS cw,
         SUM(wt) OVER (PARTITION BY g) AS tot
  FROM agg)
SELECT g AS l_returnflag,
       round(MIN(CASE WHEN cw >= 0.9 * tot THEN x END)
             - MIN(CASE WHEN cw >= 0.1 * tot THEN x END), 3)
           AS spread,
       CAST(MIN(CASE WHEN cw >= 0.5 * tot THEN x END) AS BIGINT)
           AS med_i
FROM cum GROUP BY g ORDER BY g
"""


def q_dialect_qw_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim CH expression-position weighted-quantile query
    (module doc #34c)."""
    return run_clickhouse_sql(
        spark, _CH_QW_EXPR, sf_dir, ("lineitem",)
    )


# 34b (r12). bounded groupConcat(sep, limit) (VERDICT r11 item 7):
#     the statement-owned re-plan masks rows past the limit with a
#     per-group row_number BEFORE collection, so aggregate state is
#     O(limit) not O(group).  The gate uses values CONSTANT within
#     each group, so the assertion is order-free (CH's concat order
#     is unspecified); the NULL-skip contract (NULL values don't
#     consume the limit) rides the CASE-masked second cell.  Unit
#     tests pin the selection semantics on ordered fixtures.
_CH_GROUP_CONCAT_BOUNDED = """
SELECT o_orderstatus,
       groupConcat(',', 3)(o_orderstatus) AS tag3,
       groupConcat('|', 5)(CASE WHEN o_orderkey % 2 = 0
                           THEN o_orderstatus END) AS even5
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""

O_GROUP_CONCAT_BOUNDED = """
SELECT o_orderstatus,
       rtrim(repeat(concat(o_orderstatus, ','),
                    LEAST(3, COUNT(*))), ',') AS tag3,
       rtrim(repeat(concat(o_orderstatus, '|'),
                    CAST(LEAST(5, SUM(CASE WHEN o_orderkey % 2 = 0
                                      THEN 1 ELSE 0 END))
                         AS BIGINT)), '|') AS even5
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def q_dialect_group_concat_bounded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim CH bounded-groupConcat query (module doc #34b)."""
    return run_clickhouse_sql(
        spark, _CH_GROUP_CONCAT_BOUNDED, sf_dir, ("orders",)
    )


# 34c (r13). JOIN-owned bounded groupConcat (VERDICT r12 item 3):
#     the projecting re-plan carries qualified refs through an
#     explicit inner select over the verbatim join, so grouped joins
#     keep the O(limit) masked-collect state instead of falling back
#     to the O(group) slice.  Group-constant values keep the
#     assertion order-free (the #34b strategy); the NULL-skip
#     contract rides the CASE-masked second cell.
_CH_GROUP_CONCAT_JOIN = """
SELECT c.c_mktsegment AS seg,
       groupConcat(',', 3)(c.c_mktsegment) AS tag3,
       groupConcat('|', 4)(CASE WHEN o.o_orderkey % 2 = 0
                           THEN c.c_mktsegment END) AS even4
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY seg
"""

O_GROUP_CONCAT_JOIN = """
SELECT c_mktsegment AS seg,
       rtrim(repeat(concat(c_mktsegment, ','),
                    LEAST(3, COUNT(*))), ',') AS tag3,
       rtrim(repeat(concat(c_mktsegment, '|'),
                    CAST(LEAST(4, SUM(CASE WHEN o_orderkey % 2 = 0
                                      THEN 1 ELSE 0 END))
                         AS BIGINT)), '|') AS even4
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY seg
"""


def q_dialect_group_concat_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim CH join-shaped bounded-groupConcat query (#34c)."""
    return run_clickhouse_sql(
        spark, _CH_GROUP_CONCAT_JOIN, sf_dir, ("orders", "customer")
    )


# 37 (r12). audit batch 15 value gate (per-row tier): class-C IP
#     rendering, IPv4 CIDR membership (second-octet analytic oracle),
#     defensive accurateCastOrDefault, the array-Levenshtein DP fold
#     on an analytically-known shape (equal first elements → distance
#     = second-element inequality), form-encoding (+ for space; the
#     DuckDB oracle respells its %20), and the constant-register
#     trio ignore/indexHint/isConstant plus session-pinned
#     timezoneOf.
_CH_PROBE20 = """
SELECT o_orderkey AS k,
       IPv4NumToStringClassC((o_orderkey % 200) * 65536 + 258) AS ipc,
       isIPAddressInRange(concat('10.', toString(o_orderkey % 256),
                                 '.3.4'), '10.128.0.0/9') AS ipr,
       accurateCastOrDefault(o_orderpriority, 'UInt8', 99) AS acd,
       accurateCastOrDefault(substring(o_orderpriority, 1, 1),
                             'Int64') AS ac1,
       arrayLevenshteinDistance([o_orderkey % 3, o_orderkey % 5],
                                [o_orderkey % 3, o_orderkey % 7])
         AS ald,
       encodeURLFormComponent(concat(o_orderstatus, ' ',
                                     o_orderpriority)) AS euf,
       ignore(o_orderkey) AS ig,
       indexHint(o_orderkey > 0) AS ih,
       isConstant(o_orderkey) AS ic0,
       isConstant(1 + 2) AS ic1,
       timezoneOf(toDateTime(o_orderdate)) AS tz
FROM orders
WHERE o_orderkey % 11 = 0
ORDER BY k
"""

O_PROBE20 = """
SELECT o_orderkey AS k,
       concat('0.', CAST(o_orderkey % 200 AS VARCHAR), '.1.xxx')
         AS ipc,
       (o_orderkey % 256) >= 128 AS ipr,
       CAST(coalesce(TRY_CAST(o_orderpriority AS SMALLINT), 99)
            AS SMALLINT) AS acd,
       CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS ac1,
       CAST(CASE WHEN o_orderkey % 5 = o_orderkey % 7
                 THEN 0 ELSE 1 END AS BIGINT) AS ald,
       replace(concat(o_orderstatus, ' ', o_orderpriority), ' ', '+')
         AS euf,
       0 AS ig, 1 AS ih, 0 AS ic0, 1 AS ic1, 'UTC' AS tz
FROM orders
WHERE o_orderkey % 11 = 0
ORDER BY k
"""


def q_dialect_probe20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim CH batch-15 per-row probe (module doc #37)."""
    return run_clickhouse_sql(spark, _CH_PROBE20, sf_dir, ("orders",))


# 37c (r12). audit batch 16 value gate: base58 round-trip identity
#     (the oracle just echoes the column; the invalid-charset probe
#     pins the NULL tier), fixed-date time extraction as epoch
#     arithmetic, unrolled tuple-of-intervals addition (both engines
#     apply left-to-right), literal tupleElement-with-default, and
#     the assert_true-backed throwIf pass branch.
_CH_PROBE21 = """
SELECT o_orderkey AS k,
       tryBase58Decode(base58Encode(o_orderpriority)) AS rt,
       tryBase58Decode(concat(o_orderpriority, '0')) AS bad,
       toUnixTimestamp(toTimeWithFixedDate(addSeconds(
           toDateTime(o_orderdate), o_orderkey % 86000))) AS tf,
       addTupleOfIntervals(toDate(o_orderdate),
           (INTERVAL 1 DAY, INTERVAL 1 MONTH)) AS ati,
       tupleElement((o_orderkey % 5, o_orderkey % 7), 2, -1) AS te,
       tupleElement((o_orderkey % 5, o_orderkey % 7), 9, -1) AS td,
       throwIf(o_orderkey < 0) AS ti
FROM orders
WHERE o_orderkey % 17 = 0
ORDER BY k
"""

O_PROBE21 = """
SELECT o_orderkey AS k,
       o_orderpriority AS rt,
       CAST(NULL AS VARCHAR) AS bad,
       86400 + (o_orderkey % 86000) AS tf,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 DAY
           + INTERVAL 1 MONTH AS DATE) AS ati,
       CAST(o_orderkey % 7 AS BIGINT) AS te,
       CAST(-1 AS BIGINT) AS td,
       0 AS ti
FROM orders
WHERE o_orderkey % 17 = 0
ORDER BY k
"""


def q_dialect_probe21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim CH batch-16 per-row probe (module doc #37c)."""
    return run_clickhouse_sql(spark, _CH_PROBE21, sf_dir, ("orders",))


# 37b (r12). one-way ANOVA: analysisOfVariance(value, category) as a
#     group-contiguous indexed fold over the sorted (g, v) pairs —
#     collect-class state, documented — with the p-value computed by
#     the PURE-SQL incomplete-beta register (_betainc_sql: Lanczos
#     lgamma + fixed-iteration Lentz fold; a Python UDF cannot ride
#     an Aggregate whose arguments contain lambdas).  Integer values
#     make every sufficient statistic exact in both engines, so the
#     F gate is bit-stable; the p-value half has no DuckDB spelling
#     and is value-pinned against compat.f_pvalue in
#     tests/test_dialect.py (the t-test precedent).
_CH_ANOVA = """
SELECT o_orderstatus,
       floor(analysisOfVariance(toFloat64(o_orderkey % 97),
                                o_orderpriority).1 * 1000000 + 0.5)
         / 1000000 AS f_stat
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""

O_ANOVA = """
WITH cell AS (
  SELECT o_orderstatus AS st, o_orderpriority AS g,
         COUNT(*) AS n_g,
         SUM(CAST(o_orderkey % 97 AS DOUBLE)) AS s_g
  FROM orders GROUP BY 1, 2),
tot AS (
  SELECT st, SUM(n_g) AS n, SUM(s_g) AS sv,
         COUNT(*) AS k, SUM(s_g * s_g / n_g) AS acc
  FROM cell GROUP BY st),
sq AS (
  SELECT o_orderstatus AS st,
         SUM(CAST(o_orderkey % 97 AS DOUBLE)
             * CAST(o_orderkey % 97 AS DOUBLE)) AS svv
  FROM orders GROUP BY 1)
SELECT tot.st AS o_orderstatus,
       floor(((acc - sv * sv / n) / (k - 1))
             / ((svv - acc) / (n - k)) * 1000000 + 0.5)
         / 1000000 AS f_stat
FROM tot JOIN sq ON tot.st = sq.st
ORDER BY o_orderstatus
"""


def q_dialect_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim CH analysisOfVariance query (module doc #37b)."""
    return run_clickhouse_sql(spark, _CH_ANOVA, sf_dir, ("orders",))


# 35 (r11). tumble window-view functions (audit batch 11): Spark's
#     window() is the tumbling GROUP BY; DuckDB's time_bucket is the
#     independent oracle.  tumbleStart/tumbleEnd are the arithmetic
#     truncation, so one projection can carry several.
_CH_TUMBLE = """
SELECT toUnixTimestamp(tumbleStart(ts, INTERVAL 1 HOUR)) AS ws,
       toUnixTimestamp(tumbleEnd(ts, INTERVAL 1 HOUR)) AS we,
       count() AS n,
       uniqExact(user_id) AS u
FROM events
GROUP BY ws, we
ORDER BY ws
"""

O_TUMBLE = """
SELECT CAST(epoch(time_bucket(INTERVAL 1 hour, ts)) AS BIGINT) AS ws,
       CAST(epoch(time_bucket(INTERVAL 1 hour, ts)) AS BIGINT)
           + 3600 AS we,
       count(*) AS n,
       count(DISTINCT user_id) AS u
FROM events
GROUP BY 1, 2
ORDER BY ws
"""


def q_dialect_tumble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim CH tumbling-window query (module doc)."""
    return run_clickhouse_sql(spark, _CH_TUMBLE, sf_dir, ("events",))


# 36 (r11). audit batches 13-14 value gate: defensive casts (digit
#     parse, letter → 0), numeric datestamps, saturating date-field
#     surgery, firstLine, byte hamming (DuckDB's native hamming is
#     the independent spelling), mid, readable-size parse, literal
#     tuple hamming, set-bit positions — all per-row over orders.
_CH_PROBE19 = """
SELECT o_orderkey AS k,
       toYYYYMMDD(o_orderdate) AS ymd,
       toUInt32OrZero(substring(o_orderpriority, 1, 1)) AS pz,
       toUInt32OrZero(o_orderstatus) AS sz,
       toInt64OrNull(concat('1', toString(o_orderkey % 100))) AS pn,
       toDate(changeDay(o_orderdate, 15)) AS cd,
       toDate(changeMonth(o_orderdate, 2)) AS cm,
       firstLine(concat(o_orderstatus, '\\n', o_orderpriority)) AS fl,
       byteHammingDistance(substring(o_orderpriority, 1, 5),
                           lpad(toString(o_orderkey % 1000), 5, '0'))
           AS bh,
       mid(o_orderpriority, 2, 5) AS md,
       parseReadableSize(concat(toString(o_orderkey % 50 + 1),
                                ' KiB')) AS prs,
       tupleHammingDistance((o_orderkey % 2, o_orderkey % 3),
                            (0, 0)) AS thd,
       arrayStringConcat(arrayMap(x -> toString(x),
           bitPositionsToArray(o_orderkey % 256)), ',') AS bp
FROM orders WHERE o_orderkey <= 500 ORDER BY k
"""

O_PROBE19 = """
SELECT o_orderkey AS k,
       CAST(strftime(o_orderdate, '%Y%m%d') AS BIGINT) AS ymd,
       COALESCE(TRY_CAST(substring(o_orderpriority, 1, 1) AS BIGINT),
                0) AS pz,
       COALESCE(TRY_CAST(o_orderstatus AS BIGINT), 0) AS sz,
       TRY_CAST(concat('1', CAST(o_orderkey % 100 AS VARCHAR))
                AS BIGINT) AS pn,
       CAST(o_orderdate
            + (15 - day(o_orderdate)) * INTERVAL 1 DAY AS DATE) AS cd,
       CAST(o_orderdate
            + (2 - month(o_orderdate)) * INTERVAL 1 MONTH AS DATE)
           AS cm,
       o_orderstatus AS fl,
       CAST(hamming(substring(o_orderpriority, 1, 5),
                    lpad(CAST(o_orderkey % 1000 AS VARCHAR), 5, '0'))
            AS BIGINT) AS bh,
       substring(o_orderpriority, 2, 5) AS md,
       CAST((o_orderkey % 50 + 1) * 1024 AS BIGINT) AS prs,
       CAST(o_orderkey % 2 != 0 AS INT)
           + CAST(o_orderkey % 3 != 0 AS INT) AS thd,
       COALESCE(array_to_string(list_transform(list_filter(
           generate_series(0, 7),
           i -> (((o_orderkey % 256) >> i) & 1) = 1),
           i -> CAST(i AS VARCHAR)), ','), '') AS bp
FROM orders WHERE o_orderkey <= 500 ORDER BY k
"""


def q_dialect_probe19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim CH batch 13-14 probe query (module doc)."""
    return run_clickhouse_sql(spark, _CH_PROBE19, sf_dir, ("orders",))


# 38 (r13). geoDistance: WGS-84 ellipsoid distance as Andoyer–Lambert
#     first-order-flattening arithmetic (VERDICT r12 item 4 — the
#     refusal flipped).  Synthetic exact-grid lat/lon from customer
#     keys (the geo.py precedent); per-row distances round to whole
#     meters BEFORE aggregation so the ≤1-ulp libm wobble between
#     JVM and DuckDB trig cannot move a value, then integer
#     sum/min/max/intDiv are exact in both engines.
_CH_GEO_DIST = """
SELECT nationkey,
       count() AS n,
       min(dm) AS d_min,
       max(dm) AS d_max,
       intDiv(sum(dm), count()) AS d_avg
FROM (
  SELECT c_nationkey AS nationkey,
         toInt64(round(geoDistance(
             toFloat64((c_custkey * 104729) % 36000) / 100 - 180,
             toFloat64((c_custkey * 7919) % 14000) / 100 - 70,
             13.405, 52.52))) AS dm
  FROM customer)
GROUP BY nationkey
ORDER BY nationkey
"""

O_GEO_DIST_ELL = """
WITH pts AS (
  SELECT c_nationkey AS nationkey,
         radians((CAST((c_custkey * 7919) % 14000 AS DOUBLE)/100.0
                  - 70.0) + 52.52) / 2.0 AS f,
         radians((CAST((c_custkey * 7919) % 14000 AS DOUBLE)/100.0
                  - 70.0) - 52.52) / 2.0 AS g,
         radians((CAST((c_custkey * 104729) % 36000 AS DOUBLE)/100.0
                  - 180.0) - 13.405) / 2.0 AS l
  FROM customer),
sc AS (
  SELECT nationkey,
         pow(sin(g),2)*pow(cos(l),2) + pow(cos(f),2)*pow(sin(l),2)
             AS s,
         pow(cos(g),2)*pow(cos(l),2) + pow(sin(f),2)*pow(sin(l),2)
             AS c,
         pow(sin(f),2)*pow(cos(g),2) AS sf,
         pow(cos(f),2)*pow(sin(g),2) AS cf
  FROM pts),
d AS (
  SELECT nationkey,
         CAST(round(CASE WHEN s <= 0 THEN 0.0
           WHEN c <= 0 THEN pi() * 6378137.0 * (1.0
                - 0.5/298.257223563)
           ELSE 2.0 * atan(sqrt(s / c)) * 6378137.0 * (1.0
             + (1.0/298.257223563) * (
                 (3.0*sqrt(s*c)/atan(sqrt(s / c)) - 1.0)
                   / (2.0*c) * sf
                 - (3.0*sqrt(s*c)/atan(sqrt(s / c)) + 1.0)
                   / (2.0*s) * cf))
         END) AS BIGINT) AS dm
  FROM sc)
SELECT nationkey, COUNT(*) AS n, MIN(dm) AS d_min, MAX(dm) AS d_max,
       CAST(SUM(dm) // COUNT(*) AS BIGINT) AS d_avg
FROM d GROUP BY nationkey ORDER BY nationkey
"""


def q_dialect_geo_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim CH geoDistance query (module doc #38)."""
    return run_clickhouse_sql(spark, _CH_GEO_DIST, sf_dir, ("customer",))


# 40 (r14). WKT geometry serialization (VERDICT r13 item 3): parse
#     and emit WKT POINT/LINESTRING/POLYGON/MULTIPOLYGON with pure
#     string/array ops — data-driven point/polygon round-trips plus
#     literal-shaped ring/hole/multipolygon cardinalities.  The
#     DuckDB oracle rebuilds the same text with plain string concat
#     (no spatial extension), so the comparison pins both the parse
#     arithmetic and the serializer's byte format.
_CH_WKT = """
SELECT c_custkey AS k,
       wkt((toFloat64(c_custkey % 97), toFloat64(c_custkey % 89)))
           AS wp,
       toFloat64(readWKTPoint(concat('POINT (',
           toString(c_custkey % 50), ' ',
           toString(c_custkey % 7), ')')).1) AS px,
       toInt64(length(readWKTRing(
           'POLYGON ((0 0, 10 0, 10 10, 0 10))'))) AS rn,
       toInt64(length(arrayFlatten(readWKTPolygon(
           'POLYGON ((0 0, 10 0, 10 10, 0 10), (4 4, 5 4, 5 5, 4 5))'
       )))) AS pn,
       toInt64(length(readWKTMultiPolygon(
           'MULTIPOLYGON (((0 0, 5 0, 5 5)), ((10 10, 11 10, 11 11, 10 11)))'
       ))) AS mp,
       toInt64(length(readWKTMultiLineString(
           'MULTILINESTRING ((1 1, 2 2), (3 3, 4 4), (5 5, 6 6))'
       ))) AS ml,
       toInt64(length(readWKTLineString(concat('LINESTRING (0 0, ',
           toString(c_custkey % 13), ' 5, 9 9)')))) AS ln,
       wkt(readWKTPolygon(concat('POLYGON ((0 0, ',
           toString(c_custkey % 9), ' 3, 7 7))'))) AS wpg
FROM customer
WHERE c_custkey % 11 = 0
ORDER BY k
"""

O_WKT = """
SELECT c_custkey AS k,
       'POINT(' || CAST(c_custkey % 97 AS VARCHAR) || ' '
           || CAST(c_custkey % 89 AS VARCHAR) || ')' AS wp,
       CAST(c_custkey % 50 AS DOUBLE) AS px,
       CAST(4 AS BIGINT) AS rn,
       CAST(8 AS BIGINT) AS pn,
       CAST(2 AS BIGINT) AS mp,
       CAST(3 AS BIGINT) AS ml,
       CAST(3 AS BIGINT) AS ln,
       'POLYGON((0 0,' || CAST(c_custkey % 9 AS VARCHAR)
           || ' 3,7 7))' AS wpg
FROM customer
WHERE c_custkey % 11 = 0
ORDER BY k
"""


def q_dialect_wkt_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim CH WKT parse/serialize query (module doc #40)."""
    return run_clickhouse_sql(spark, _CH_WKT, sf_dir, ("customer",))


# 41 (r14). seriesOutliersDetectTukey (VERDICT r13 item 4): Tukey
#     fences over key-derived series with a planted spike.  Two
#     shapes: n=16 with default params exercises the INTEGRAL-pos
#     quantile branch (average of the two straddling values — the
#     docs' 27-score example form), n=13 with (0.2, 0.8, 3.0)
#     exercises the FRACTIONAL-pos branch.  All arithmetic is exact
#     in binary (integer-valued doubles, quarter-step fences), so
#     the DuckDB oracle — the same formula over list ops —
#     hash-matches bit-for-bit.  Outputs scalarized (sum / max /
#     outlier count): the driver gate cannot hash array columns.
_CH_SERIES_TUKEY = """
SELECT k,
       toFloat64(arraySum(s1)) AS ssum,
       toInt64(arrayCount(x -> x > 0, s1)) AS nout,
       toFloat64(arrayMax(s2)) AS smax,
       toInt64(arrayCount(x -> x > 0, s2)) AS nout2
FROM (
  SELECT o_orderkey AS k,
         seriesOutliersDetectTukey(arrayConcat(
             arrayMap(i -> toFloat64((o_orderkey * 7919 + i * 104729) % 23),
                      range(1, 16)), [1000.0])) AS s1,
         seriesOutliersDetectTukey(arrayConcat(
             arrayMap(i -> toFloat64((o_orderkey * 104729 + i * 7919) % 31),
                      range(1, 13)), [-500.0]), 0.2, 0.8, 3.0) AS s2
  FROM orders
  WHERE o_orderkey % 101 = 0)
ORDER BY k
"""

O_SERIES_TUKEY = """
WITH base AS (
  SELECT o_orderkey AS k,
         list_concat(list_transform(range(1, 16),
             i -> CAST((o_orderkey * 7919 + i * 104729) % 23 AS DOUBLE)),
             [1000.0]) AS a1,
         list_concat(list_transform(range(1, 13),
             i -> CAST((o_orderkey * 104729 + i * 7919) % 31 AS DOUBLE)),
             [-500.0]) AS a2
  FROM orders WHERE o_orderkey % 101 = 0),
srt AS (
  SELECT k, a1, a2, list_sort(a1) AS s1, list_sort(a2) AS s2,
         CAST(len(a1) AS DOUBLE) AS n1, CAST(len(a2) AS DOUBLE) AS n2
  FROM base),
qq AS (
  SELECT k, a1, a2,
    CASE WHEN n1*0.25 = floor(n1*0.25)
         THEN (s1[CAST(n1*0.25 AS INT)] + s1[CAST(n1*0.25 AS INT)+1])/2.0
         ELSE s1[CAST(floor(n1*0.25) AS INT)+1] END AS q1a,
    CASE WHEN n1*0.75 = floor(n1*0.75)
         THEN (s1[CAST(n1*0.75 AS INT)] + s1[CAST(n1*0.75 AS INT)+1])/2.0
         ELSE s1[CAST(floor(n1*0.75) AS INT)+1] END AS q3a,
    CASE WHEN n2*0.2 = floor(n2*0.2)
         THEN (s2[CAST(n2*0.2 AS INT)] + s2[CAST(n2*0.2 AS INT)+1])/2.0
         ELSE s2[CAST(floor(n2*0.2) AS INT)+1] END AS q1b,
    CASE WHEN n2*0.8 = floor(n2*0.8)
         THEN (s2[CAST(n2*0.8 AS INT)] + s2[CAST(n2*0.8 AS INT)+1])/2.0
         ELSE s2[CAST(floor(n2*0.8) AS INT)+1] END AS q3b
  FROM srt),
f AS (
  SELECT k, a1, a2,
         q1a - 1.5*(q3a - q1a) AS lo1, q3a + 1.5*(q3a - q1a) AS hi1,
         q1b - 3.0*(q3b - q1b) AS lo2, q3b + 3.0*(q3b - q1b) AS hi2
  FROM qq),
sc AS (
  SELECT k,
    list_transform(a1, x -> CASE WHEN x < lo1 THEN lo1 - x
        WHEN x > hi1 THEN x - hi1 ELSE 0.0 END) AS v1,
    list_transform(a2, x -> CASE WHEN x < lo2 THEN lo2 - x
        WHEN x > hi2 THEN x - hi2 ELSE 0.0 END) AS v2
  FROM f)
SELECT k,
       list_aggregate(v1, 'sum') AS ssum,
       CAST(len(list_filter(v1, x -> x > 0)) AS BIGINT) AS nout,
       list_aggregate(v2, 'max') AS smax,
       CAST(len(list_filter(v2, x -> x > 0)) AS BIGINT) AS nout2
FROM sc
ORDER BY k
"""


def q_dialect_series_tukey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim CH Tukey-fence outlier query (module doc #41)."""
    return run_clickhouse_sql(
        spark, _CH_SERIES_TUKEY, sf_dir, ("orders",)
    )


# 42 (r14). audit batch 24 value gate: bit-exact keyed SipHash-2-4
#     (the paper's key over data-derived strings — the DuckDB side
#     pins the four distinct values computed from the reference
#     implementation, itself pinned to the paper's test vectors in
#     tests), the generateULID deterministic md5 tier (DuckDB
#     REBUILDS the 26-char Crockford string from the same md5 bits
#     via 0x-hex casts — not a literal pin), the
#     ULIDStringToDateTime round-trip, and the random writer's
#     shape.
_CH_PROBE25 = """
SELECT o_orderkey AS k,
       sipHash64Keyed((506097522914230528, 1084818905618843912),
           concat('row', toString(o_orderkey % 4))) AS sk,
       sipHash64Keyed((0, 0), 'abc') AS sz,
       generateULID(concat('u', toString(o_orderkey % 5))) AS ud,
       toUnixTimestamp(ULIDStringToDateTime(
           generateULID(concat('u', toString(o_orderkey % 5))))) AS urt,
       toInt64(length(generateULID())) AS ulen
FROM orders
WHERE o_orderkey % 101 = 0
ORDER BY k
"""

O_PROBE25 = """
WITH h AS (
  SELECT o_orderkey AS k,
         md5(concat('u', CAST(o_orderkey % 5 AS VARCHAR))) AS hx
  FROM orders WHERE o_orderkey % 101 = 0),
bits AS (
  SELECT k,
         CAST(concat('0x', substring(hx, 1, 12)) AS BIGINT) AS t,
         CAST(concat('0x', substring(hx, 13, 10)) AS BIGINT) AS a,
         CAST(concat('0x', substring(hx, 23, 10)) AS BIGINT) AS b
  FROM h),
ud AS (
  SELECT k, t,
    substring('0123456789ABCDEFGHJKMNPQRSTVWXYZ', CAST((t >> 45) & 31 AS INT) + 1, 1)
 || substring('0123456789ABCDEFGHJKMNPQRSTVWXYZ', CAST((t >> 40) & 31 AS INT) + 1, 1)
 || substring('0123456789ABCDEFGHJKMNPQRSTVWXYZ', CAST((t >> 35) & 31 AS INT) + 1, 1)
 || substring('0123456789ABCDEFGHJKMNPQRSTVWXYZ', CAST((t >> 30) & 31 AS INT) + 1, 1)
 || substring('0123456789ABCDEFGHJKMNPQRSTVWXYZ', CAST((t >> 25) & 31 AS INT) + 1, 1)
 || substring('0123456789ABCDEFGHJKMNPQRSTVWXYZ', CAST((t >> 20) & 31 AS INT) + 1, 1)
 || substring('0123456789ABCDEFGHJKMNPQRSTVWXYZ', CAST((t >> 15) & 31 AS INT) + 1, 1)
 || substring('0123456789ABCDEFGHJKMNPQRSTVWXYZ', CAST((t >> 10) & 31 AS INT) + 1, 1)
 || substring('0123456789ABCDEFGHJKMNPQRSTVWXYZ', CAST((t >> 5) & 31 AS INT) + 1, 1)
 || substring('0123456789ABCDEFGHJKMNPQRSTVWXYZ', CAST(t & 31 AS INT) + 1, 1)
 || substring('0123456789ABCDEFGHJKMNPQRSTVWXYZ', CAST((a >> 35) & 31 AS INT) + 1, 1)
 || substring('0123456789ABCDEFGHJKMNPQRSTVWXYZ', CAST((a >> 30) & 31 AS INT) + 1, 1)
 || substring('0123456789ABCDEFGHJKMNPQRSTVWXYZ', CAST((a >> 25) & 31 AS INT) + 1, 1)
 || substring('0123456789ABCDEFGHJKMNPQRSTVWXYZ', CAST((a >> 20) & 31 AS INT) + 1, 1)
 || substring('0123456789ABCDEFGHJKMNPQRSTVWXYZ', CAST((a >> 15) & 31 AS INT) + 1, 1)
 || substring('0123456789ABCDEFGHJKMNPQRSTVWXYZ', CAST((a >> 10) & 31 AS INT) + 1, 1)
 || substring('0123456789ABCDEFGHJKMNPQRSTVWXYZ', CAST((a >> 5) & 31 AS INT) + 1, 1)
 || substring('0123456789ABCDEFGHJKMNPQRSTVWXYZ', CAST(a & 31 AS INT) + 1, 1)
 || substring('0123456789ABCDEFGHJKMNPQRSTVWXYZ', CAST((b >> 35) & 31 AS INT) + 1, 1)
 || substring('0123456789ABCDEFGHJKMNPQRSTVWXYZ', CAST((b >> 30) & 31 AS INT) + 1, 1)
 || substring('0123456789ABCDEFGHJKMNPQRSTVWXYZ', CAST((b >> 25) & 31 AS INT) + 1, 1)
 || substring('0123456789ABCDEFGHJKMNPQRSTVWXYZ', CAST((b >> 20) & 31 AS INT) + 1, 1)
 || substring('0123456789ABCDEFGHJKMNPQRSTVWXYZ', CAST((b >> 15) & 31 AS INT) + 1, 1)
 || substring('0123456789ABCDEFGHJKMNPQRSTVWXYZ', CAST((b >> 10) & 31 AS INT) + 1, 1)
 || substring('0123456789ABCDEFGHJKMNPQRSTVWXYZ', CAST((b >> 5) & 31 AS INT) + 1, 1)
 || substring('0123456789ABCDEFGHJKMNPQRSTVWXYZ', CAST(b & 31 AS INT) + 1, 1)
    AS u
  FROM bits)
SELECT k,
       CASE k % 4
         WHEN 0 THEN CAST(2274879399504740197 AS BIGINT)
         WHEN 1 THEN CAST(-5338937529214986531 AS BIGINT)
         WHEN 2 THEN CAST(8238763627560734016 AS BIGINT)
         ELSE CAST(8868959380999491051 AS BIGINT)
       END AS sk,
       CAST(4596069200710135518 AS BIGINT) AS sz,
       u AS ud,
       CAST(t // 1000 AS BIGINT) AS urt,
       CAST(26 AS BIGINT) AS ulen
FROM ud
ORDER BY k
"""


def q_dialect_probe25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim CH keyed-SipHash / ULID-writer query (module doc
    #42)."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DialectWarning)
        return run_clickhouse_sql(
            spark, _CH_PROBE25, sf_dir, ("orders",)
        )


# 43 (r14). audit batch 25 value gate: greedy-fold subsequence
#     matching (hs1 varies with whether the k%7 and k%10 digits
#     collide — the needle's middle char must appear between the
#     haystack's 'r' and trailing 'e'), and the UUIDv7 read-side
#     (48-bit ms prefix, RFC 9562) over md5-derived uuid text the
#     DuckDB oracle rebuilds with a 0x-hex cast.
_CH_PROBE26 = """
SELECT o_orderkey AS k,
       toInt64(hasSubsequence(
           concat('gar', toString(o_orderkey % 7), 'bage'),
           concat('r', toString(o_orderkey % 10), 'e'))) AS hs1,
       toInt64(hasSubsequence('garbage', 'arg')) AS hs2,
       toInt64(hasSubsequenceCaseInsensitive(
           'Hello World', concat('hw', toString(o_orderkey % 2))))
           AS hs3,
       toUnixTimestamp(UUIDv7ToDateTime(concat(
           substring(lower(hex(MD5(toString(o_orderkey)))), 1, 8),
           '-',
           substring(lower(hex(MD5(toString(o_orderkey)))), 9, 4),
           '-7',
           substring(lower(hex(MD5(toString(o_orderkey)))), 13, 3),
           '-9',
           substring(lower(hex(MD5(toString(o_orderkey)))), 17, 3),
           '-',
           substring(lower(hex(MD5(toString(o_orderkey)))), 21, 12)
       ))) AS u7,
       toUnixTimestamp(UUIDv7ToDateTime(
           '123e4567-e89b-42d3-a456-426614174000')) AS u7z
FROM orders
WHERE o_orderkey % 101 = 0
ORDER BY k
"""

O_PROBE26 = """
SELECT o_orderkey AS k,
       CAST(CASE WHEN (o_orderkey % 7) = (o_orderkey % 10)
            THEN 1 ELSE 0 END AS BIGINT) AS hs1,
       CAST(1 AS BIGINT) AS hs2,
       CAST(0 AS BIGINT) AS hs3,
       CAST(CAST(concat('0x', substring(
           md5(CAST(o_orderkey AS VARCHAR)), 1, 12)) AS BIGINT)
           // 1000 AS BIGINT) AS u7,
       CAST(0 AS BIGINT) AS u7z
FROM orders
WHERE o_orderkey % 101 = 0
ORDER BY k
"""


def q_dialect_probe26(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim CH subsequence / UUIDv7 query (module doc #43)."""
    return run_clickhouse_sql(spark, _CH_PROBE26, sf_dir, ("orders",))


# 44 (r15). the bit-exact 128-bit SipHash family (VERDICT r14 item
#     2): sipHash128[Keyed] is ClickHouse's legacy construction
#     (src/Common/SipHash.h get128: 64-bit finalization, v0^v1 ||
#     v2^v3 LE), sipHash128Reference[Keyed] the paper's double
#     finalizer — vectors_sip128-pinned in tests.  The DuckDB side
#     pins the per-input hex values computed by the test-pinned
#     implementation (literal-pin tier, like probe25's keyed MAC:
#     DuckDB has no SipHash).  BINARY(16) results travel as hex()
#     text — the FixedString(16) seam (MIGRATION.md).
_CH_PROBE27 = """
SELECT o_orderkey AS k,
       hex(sipHash128Keyed((506097522914230528, 1084818905618843912),
           concat('row', toString(o_orderkey % 4)))) AS h128,
       hex(sipHash128ReferenceKeyed(
           (506097522914230528, 1084818905618843912),
           concat('row', toString(o_orderkey % 4)))) AS r128,
       hex(sipHash128('abc')) AS z128,
       hex(sipHash128Reference('abc')) AS zr128
FROM orders
WHERE o_orderkey % 101 = 0
ORDER BY k
"""

O_PROBE27 = """
SELECT o_orderkey AS k,
       CASE o_orderkey % 4
         WHEN 0 THEN '01EDAC633AF4D90B6492F9B1F80A4814'
         WHEN 1 THEN '9218D5F6E3559A534F8EF653791D72E6'
         WHEN 2 THEN 'D0293D5E3A86FA7890A4170FE471AF0A'
         ELSE '5C623E151141CB3CB7AFE922809EDF47'
       END AS h128,
       CASE o_orderkey % 4
         WHEN 0 THEN '4E1286D8B2AA68D9CC09EC18DC7EDE13'
         WHEN 1 THEN 'EBB030819CF04C1193FE0B82971D14C7'
         WHEN 2 THEN 'DF99144C9C60AC1331A3D10897C6DC3A'
         ELSE '8068B3342A23E7B46262FECBC04DD29F'
       END AS r128,
       'B6B415A2DA966B6C685A65E54C12A353' AS z128,
       '6C95DEC302962FA8CA5E69C1D5D15478' AS zr128
FROM orders
WHERE o_orderkey % 101 = 0
ORDER BY k
"""


def q_dialect_probe27(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim CH 128-bit SipHash query (module doc #44)."""
    return run_clickhouse_sql(spark, _CH_PROBE27, sf_dir, ("orders",))


# 45 (r15). seriesPeriodDetectFFT (VERDICT r14 item 3 — was walled
#     with STL): periodogram argmax as a pure-SQL O(n²) DFT cos/sin
#     fold, mean-centered so a constant series hits the exact-zero
#     degenerate NaN tier.  The oracle is CLOSED-FORM: a sawtooth
#     x % p over a length divisible by p has its spectral peak at
#     exactly n/p (the fundamental dominates — 1/m coefficient
#     decay), so the detected period IS the construction period.
#     Both CH docs examples are value-pinned in tests; this gate
#     varies the period with the data.  The second column is the
#     NON-divisible leakage case (100/6 cycles: the peak bin lands
#     at 16 or 17, both round to 6.0) at a length that keeps the
#     O(n²) fold off the bench's critical path (the docs' length
#     1000 costs 500k transcendental evals per ROW; tests pin it
#     once).
_CH_SERIES_FFT = """
SELECT o_orderkey AS k,
       seriesPeriodDetectFFT(arrayMap(
           x -> toFloat64(x % (o_orderkey % 4 + 3)),
           range(60))) AS period,
       seriesPeriodDetectFFT(arrayMap(
           x -> toFloat64(abs((x % 6) - 3)), range(100))) AS p6
FROM orders
WHERE o_orderkey % 211 = 0
ORDER BY k
"""

O_SERIES_FFT = """
SELECT o_orderkey AS k,
       CAST(o_orderkey % 4 + 3 AS DOUBLE) AS period,
       CAST(6 AS DOUBLE) AS p6
FROM orders
WHERE o_orderkey % 211 = 0
ORDER BY k
"""


def q_dialect_series_fft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim CH period-detection query (module doc #45)."""
    return run_clickhouse_sql(
        spark, _CH_SERIES_FFT, sf_dir, ("orders",)
    )


# 46 (r15). audit batch 29 value gate, per-row tier: the CH 24.x
#     scalar wave — clamp, punycode round-trip (RFC 3492: pure-ASCII
#     input appends '-'), editDistance (DuckDB levenshtein is the
#     independent oracle), stringJaccardIndex (DuckDB jaccard — both
#     character-set based), countEqual / arrayJaccardIndex list
#     algebra, arrayRotateLeft / arrayShiftLeft(+default),
#     hasAnyTokens / hasAllTokens literal-array expansion over the
#     hasToken word-boundary regex, and the days-since-year-zero
#     codec pair (1970-01-01 = 719528).
_CH_PROBE28 = """
SELECT o_orderkey AS k,
       clamp(toFloat64(o_orderkey % 100), 10.0, 50.0) AS cl,
       punycodeEncode(concat('str', toString(o_orderkey % 4))) AS pe,
       punycodeDecode(punycodeEncode(
           concat('u', toString(o_orderkey % 3)))) AS prt,
       toInt64(editDistance(o_orderpriority, o_orderstatus)) AS ed,
       stringJaccardIndex(o_orderpriority, '2-HIGH') AS sj,
       toInt64(countEqual(
           [o_orderkey % 7, o_orderkey % 5, 3], 3)) AS ceq,
       arrayJaccardIndex([o_orderkey % 4, 9], [9, 2]) AS aj,
       arrayStringConcat(arrayMap(x -> toString(x),
           arrayRotateLeft(
               [o_orderkey % 5, o_orderkey % 3, 7], 1)), ',') AS rot,
       arrayStringConcat(arrayMap(x -> toString(x),
           arrayShiftLeft(
               [o_orderkey % 5, o_orderkey % 3, 7], 1, 99)), ',')
           AS shl,
       hasAnyTokens(o_orderpriority, ['URGENT', 'HIGH']) AS hat,
       hasAllTokens(o_orderpriority, ['2', 'HIGH']) AS hall,
       toInt64(toDaysSinceYearZero(CAST(o_orderdate AS DATE))) AS dz,
       toString(fromDaysSinceYearZero(
           toDaysSinceYearZero(CAST(o_orderdate AS DATE)))) AS frt
FROM orders
WHERE o_orderkey % 101 = 0
ORDER BY k
"""

O_PROBE28 = """
SELECT o_orderkey AS k,
       greatest(10.0, least(CAST(o_orderkey % 100 AS DOUBLE), 50.0))
           AS cl,
       concat('str', CAST(o_orderkey % 4 AS VARCHAR), '-') AS pe,
       concat('u', CAST(o_orderkey % 3 AS VARCHAR)) AS prt,
       CAST(levenshtein(o_orderpriority, o_orderstatus) AS BIGINT)
           AS ed,
       jaccard(o_orderpriority, '2-HIGH') AS sj,
       CAST(len(list_filter(
           [o_orderkey % 7, o_orderkey % 5, 3], x -> x = 3))
           AS BIGINT) AS ceq,
       CAST(len(list_intersect([o_orderkey % 4, 9], [9, 2]))
            AS DOUBLE) /
       len(list_distinct(list_concat([o_orderkey % 4, 9], [9, 2])))
           AS aj,
       concat(CAST(o_orderkey % 3 AS VARCHAR), ',7,',
              CAST(o_orderkey % 5 AS VARCHAR)) AS rot,
       concat(CAST(o_orderkey % 3 AS VARCHAR), ',7,99') AS shl,
       regexp_matches(o_orderpriority, '\\b(URGENT|HIGH)\\b') AS hat,
       (o_orderpriority = '2-HIGH') AS hall,
       CAST(datediff('day', DATE '1970-01-01', o_orderdate)
            + 719528 AS BIGINT) AS dz,
       strftime(o_orderdate, '%Y-%m-%d') AS frt
FROM orders
WHERE o_orderkey % 101 = 0
ORDER BY k
"""


def q_dialect_probe28(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim CH 24.x scalar-wave query (module doc #46)."""
    return run_clickhouse_sql(spark, _CH_PROBE28, sf_dir, ("orders",))


# 47 (r15). audit batch 29 value gate, aggregate tier: the
#     -SimpleState delegates (SimpleAggregateFunction's state IS the
#     finished value), the Map-typed -Map combinator members
#     (avgMap / countMap over integer-valued doubles — sums exact in
#     fp, so Spark and DuckDB divide the same rationals), the
#     sumMappedArrays Map-column synonym, and the
#     groupUniqArrayArray set union (sorted — CH's set order is
#     unspecified, the groupBitmap precedent).  The input is
#     SLICED (k % 11): these are collect-class aggregates whose
#     state is O(group) — the gate checks VALUES, the slice keeps
#     the probe off the bench's collect-scale path (r15 bench
#     read).
_CH_PROBE29 = """
SELECT o_orderstatus AS st,
       minSimpleState(o_totalprice) AS mn,
       maxSimpleState(o_totalprice) AS mx,
       toInt64(sumSimpleState(o_orderkey % 100)) AS sm,
       toInt64(groupBitOrSimpleState(o_orderkey % 255)) AS bor,
       arrayStringConcat(arrayMap(x -> toString(x),
           groupUniqArrayArraySimpleState(
               [o_orderkey % 7, o_orderkey % 11])), ',') AS guaa,
       avgMap(map('a', toFloat64(o_orderkey % 7),
                  'b', toFloat64(o_orderkey % 3)))['a'] AS av_a,
       avgMap(map('a', toFloat64(o_orderkey % 7),
                  'b', toFloat64(o_orderkey % 3)))['b'] AS av_b,
       toInt64(countMap(map('a', o_orderkey % 7,
                            'b', o_orderkey % 3))['a']) AS ct_a,
       sumMappedArrays(map('a', toFloat64(o_orderkey % 7),
                           'b', toFloat64(o_orderkey % 3)))['b']
           AS sm_b
FROM orders
WHERE o_orderkey % 11 = 0
GROUP BY o_orderstatus
ORDER BY st
"""

O_PROBE29 = """
WITH u AS (
  SELECT o_orderstatus AS st, o_orderkey % 7 AS v FROM orders
  WHERE o_orderkey % 11 = 0
  UNION
  SELECT o_orderstatus, o_orderkey % 11 FROM orders
  WHERE o_orderkey % 11 = 0)
SELECT o.st, o.mn, o.mx, o.sm, o.bor, g.guaa,
       o.av_a, o.av_b, o.ct_a, o.sm_b
FROM (
  SELECT o_orderstatus AS st,
         min(o_totalprice) AS mn,
         max(o_totalprice) AS mx,
         CAST(sum(o_orderkey % 100) AS BIGINT) AS sm,
         CAST(bit_or(o_orderkey % 255) AS BIGINT) AS bor,
         avg(CAST(o_orderkey % 7 AS DOUBLE)) AS av_a,
         avg(CAST(o_orderkey % 3 AS DOUBLE)) AS av_b,
         CAST(count(*) AS BIGINT) AS ct_a,
         CAST(sum(o_orderkey % 3) AS DOUBLE) AS sm_b
  FROM orders WHERE o_orderkey % 11 = 0 GROUP BY st) o
JOIN (
  SELECT st, array_to_string(list_sort(list(v)), ',') AS guaa
  FROM (SELECT DISTINCT st, v FROM u) GROUP BY st) g
ON o.st = g.st
ORDER BY o.st
"""


def q_dialect_probe29(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim CH batch-29 aggregate-combinator query (module doc
    #47)."""
    return run_clickhouse_sql(spark, _CH_PROBE29, sf_dir, ("orders",))


# 48 (r15). audit batch 30 value gate: arrayLevenshteinDistance-
#     Weighted (CH's per-element cost model — docs example pinned in
#     tests; the gate uses length-1 arrays whose DP collapses to the
#     closed form min(sub, del+ins) = wa+wb on mismatch), the
#     subtractInterval twin, and the number-theory scalars
#     (positiveModulo's [0, n) contract, gcd/lcm, bitTest, factorial)
#     against DuckDB's own built-ins.
_CH_PROBE30 = """
SELECT o_orderkey AS k,
       arrayLevenshteinDistanceWeighted(
           [o_orderkey % 3], [o_orderkey % 5],
           [1.0 + o_orderkey % 2], [2.0]) AS alw,
       toString(subtractInterval(
           toDateTime('2024-03-15 10:00:00'), INTERVAL 1 DAY))
           AS subi,
       toInt64(positiveModulo(0 - o_orderkey % 7, 3)) AS pm,
       toInt64(gcd(o_orderkey % 12 + 1, 18)) AS g,
       toInt64(lcm(o_orderkey % 4 + 1, 6)) AS l,
       toInt64(bitTest(o_orderkey, 0)) AS bt,
       toInt64(factorial(o_orderkey % 6)) AS fac
FROM orders
WHERE o_orderkey % 101 = 0
ORDER BY k
"""

O_PROBE30 = """
SELECT o_orderkey AS k,
       CAST(CASE WHEN o_orderkey % 3 = o_orderkey % 5 THEN 0.0
            ELSE 3.0 + o_orderkey % 2 END AS DOUBLE) AS alw,
       '2024-03-14 10:00:00' AS subi,
       CAST((((0 - o_orderkey % 7) % 3) + 3) % 3 AS BIGINT) AS pm,
       CAST(gcd(o_orderkey % 12 + 1, 18) AS BIGINT) AS g,
       CAST(lcm(o_orderkey % 4 + 1, 6) AS BIGINT) AS l,
       CAST(o_orderkey % 2 AS BIGINT) AS bt,
       CAST(factorial(CAST(o_orderkey % 6 AS INT)) AS BIGINT) AS fac
FROM orders
WHERE o_orderkey % 101 = 0
ORDER BY k
"""


def q_dialect_probe30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim CH batch-30 query (module doc #48)."""
    return run_clickhouse_sql(spark, _CH_PROBE30, sf_dir, ("orders",))


# 49 (r15). audit batch 31, STATEMENT-form tier: four CH statement
#     shapes that leaked as Spark analysis/parse errors — tuple
#     [NOT] IN over literal tuple lists (→ equality disjunction;
#     Spark's struct comparison trips on field names), DISTINCT ON
#     with an UNSELECTED key (the LIMIT BY inject path now has a
#     resolver-blind textual tier), HAVING without GROUP BY on a
#     non-aggregating select (CH filters result rows; → subquery
#     wrap), and ANSI OFFSET … FETCH FIRST … ROWS ONLY (→ LIMIT/
#     OFFSET).  One query composes all four; the DuckDB oracle
#     spells each out relationally.
_CH_STATEMENT_FORMS = """
SELECT k, st FROM (
    SELECT DISTINCT ON (o_custkey)
           o_orderkey AS k, o_orderstatus AS st
    FROM orders
    WHERE (o_orderkey % 7, o_orderkey % 3) NOT IN ((1, 1), (2, 2))
    ORDER BY o_custkey, o_orderkey
) HAVING k % 2 = 0
ORDER BY k
OFFSET 1 ROW FETCH FIRST 40 ROWS ONLY
"""

O_STATEMENT_FORMS = """
WITH f AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderkey) AS rn
  FROM orders
  WHERE NOT ((o_orderkey % 7 = 1 AND o_orderkey % 3 = 1)
          OR (o_orderkey % 7 = 2 AND o_orderkey % 3 = 2))
)
SELECT k, st FROM f WHERE rn = 1 AND k % 2 = 0
ORDER BY k LIMIT 40 OFFSET 1
"""


def q_dialect_statement_forms(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim CH statement-forms query (module doc #49)."""
    return run_clickhouse_sql(
        spark, _CH_STATEMENT_FORMS, sf_dir, ("orders",)
    )


# 50 (r16). fuzzBits deterministic-tier value gate (VERDICT r15
#     item 5 — the last named flippable refusal).  The DuckDB side
#     REBUILDS the md5-seeded construction bit-for-bit (not a
#     literal pin): per byte i, bit j flips iff the j-th 16-bit
#     word of md5(s':'i) lands under prob.  Columns: fz/fzu are the
#     real gates (derived ASCII string at p=.25; multi-byte UTF-8
#     'café' at p=.1 — the byte-addressability the old wall said was
#     impossible), fzl pins length preservation, fid the p=0
#     identity, fall the p>=1 all-bits closed form (every byte
#     XOR 0xFF, md5 not consulted because draws are < 1 surely).
_CH_PROBE31 = """
SELECT o_orderkey AS k,
       hex(fuzzBits(concat('fz', toString(o_orderkey % 7)), 0.25))
           AS fz,
       hex(fuzzBits('café', 0.1)) AS fzu,
       toInt64(length(hex(fuzzBits(
           concat('fz', toString(o_orderkey % 7)), 0.25)))) AS fzl,
       toInt64(hex(fuzzBits(o_orderstatus, 0.0))
               = hex(o_orderstatus)) AS fid,
       hex(fuzzBits(o_orderstatus, 1.0)) AS fall
FROM orders
WHERE o_orderkey % 101 = 0
ORDER BY k
"""


def _o_fuzz_mask(s_sql: str, p: str) -> str:
    """DuckDB mask rebuild for one byte __i of ``s_sql`` at literal
    probability ``p`` (oracle-side twin of the dialect register)."""
    return " + ".join(
        f"(CASE WHEN (CAST(concat('0x', substring(md5(concat({s_sql}"
        f", ':', CAST(__i AS VARCHAR))), {4 * j + 1}, 4)) AS INT) "
        f"+ 0.5) / 65536.0 < {p} THEN {1 << j} ELSE 0 END)"
        for j in range(8)
    )


def _o_fuzz_hex(s_sql: str, mask: str) -> str:
    """DuckDB hex image of ``s_sql`` with per-byte ``mask`` XORed."""
    return (
        f"array_to_string(list_transform(range(1, "
        f"length(hex({s_sql})) // 2 + 1), __i -> printf('%02X', "
        f"xor(CAST(concat('0x', substring(hex({s_sql}), "
        f"2 * __i - 1, 2)) AS INT), {mask}))), '')"
    )


O_PROBE31 = f"""
WITH b AS (
  SELECT o_orderkey AS k,
         concat('fz', CAST(o_orderkey % 7 AS VARCHAR)) AS s1,
         'café' AS s2,
         o_orderstatus AS st
  FROM orders WHERE o_orderkey % 101 = 0)
SELECT k,
       {_o_fuzz_hex('s1', _o_fuzz_mask('s1', '0.25'))} AS fz,
       {_o_fuzz_hex('s2', _o_fuzz_mask('s2', '0.1'))} AS fzu,
       CAST(length({_o_fuzz_hex('s1', _o_fuzz_mask('s1', '0.25'))})
            AS BIGINT) AS fzl,
       CAST(1 AS BIGINT) AS fid,
       {_o_fuzz_hex('st', '255')} AS fall
FROM b
ORDER BY k
"""


def q_dialect_probe31(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim CH fuzzBits query (module doc #50)."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DialectWarning)
        return run_clickhouse_sql(
            spark, _CH_PROBE31, sf_dir, ("orders",)
        )


# 51 (r16). audit batch 33 value gate, statement + scalar tier:
#     GROUP BY ALL / ORDER BY ALL pass through to Spark's native
#     forms (same non-aggregate-projection grouping rule as CH —
#     pinned here rather than assumed), stringCompare's three-way
#     byte comparison, and the widened toStartOfInterval register:
#     month-class INTERVAL n > 1 (exact integer months since
#     1970-01) and the 3-arg second-class ORIGIN form (exact pmod
#     arithmetic — 90-minute buckets anchored half past the hour).
_CH_PROBE32 = """
SELECT o_orderstatus AS st,
       round(sum(o_totalprice), 2) AS rev,
       toInt64(count()) AS n,
       toInt64(stringCompare(min(o_orderpriority),
                             max(o_orderpriority))) AS sc,
       toString(toStartOfInterval(min(o_orderdate),
                                  INTERVAL 2 MONTH)) AS ms,
       toString(toStartOfInterval(max(o_orderdate),
           INTERVAL 90 MINUTE,
           toDateTime('1995-01-01 00:30:00'))) AS og
FROM orders
WHERE o_orderkey % 11 = 0
GROUP BY ALL
ORDER BY ALL
"""

O_PROBE32 = """
SELECT o_orderstatus AS st,
       round(sum(o_totalprice), 2) AS rev,
       CAST(count(*) AS BIGINT) AS n,
       CAST(CASE WHEN min(o_orderpriority) = max(o_orderpriority)
                 THEN 0
                 WHEN min(o_orderpriority) < max(o_orderpriority)
                 THEN -1 ELSE 1 END AS BIGINT) AS sc,
       strftime(DATE '1970-01-01' + to_months(CAST(
           ((year(min(o_orderdate)) - 1970) * 12
            + month(min(o_orderdate)) - 1)
           - ((year(min(o_orderdate)) - 1970) * 12
              + month(min(o_orderdate)) - 1) % 2 AS INT)),
           '%Y-%m-%d') AS ms,
       strftime(make_timestamp(CAST(
           (epoch(max(o_orderdate))
            - ((epoch(max(o_orderdate))
                - epoch(TIMESTAMP '1995-01-01 00:30:00')) % 5400
               + 5400) % 5400) * 1000000 AS BIGINT)),
           '%Y-%m-%d %H:%M:%S') AS og
FROM orders
WHERE o_orderkey % 11 = 0
GROUP BY st
ORDER BY st
"""


def q_dialect_probe32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim CH batch-33 query (module doc #51)."""
    return run_clickhouse_sql(spark, _CH_PROBE32, sf_dir, ("orders",))


# 52 (r16). audit batch 33, window-position aggregate heads: CH
#     allows any aggregate as a window function; the transpiler's
#     renamed heads must compose with OVER (argMax → max_by OVER,
#     groupArray → collect_list OVER with CH's cumulative default
#     frame spelled explicitly).  The DuckDB oracle spells the
#     last-row-per-partition window values as plain group
#     aggregates (arg_max, ordered list) — equivalent at rn = n.
_CH_WINDOW_HEADS = """
SELECT ck, last_st, arr FROM (
    SELECT o_custkey AS ck,
           argMax(o_orderstatus, o_orderkey)
               OVER (PARTITION BY o_custkey) AS last_st,
           arrayStringConcat(arrayMap(x -> toString(x),
               groupArray(o_orderkey % 10)
                   OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)), ',') AS arr,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderkey) AS rn,
           count(*) OVER (PARTITION BY o_custkey) AS n
    FROM orders WHERE o_orderkey % 101 = 0
)
WHERE rn = n
ORDER BY ck
"""

O_WINDOW_HEADS = """
SELECT o_custkey AS ck,
       arg_max(o_orderstatus, o_orderkey) AS last_st,
       array_to_string(list(o_orderkey % 10 ORDER BY o_orderkey),
                       ',') AS arr
FROM orders WHERE o_orderkey % 101 = 0
GROUP BY ck ORDER BY ck
"""


def q_dialect_window_heads(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim CH window-position-heads query (module doc #52)."""
    return run_clickhouse_sql(
        spark, _CH_WINDOW_HEADS, sf_dir, ("orders",)
    )


# 39 (r13). audit batch 17 value gate (per-row tier): MAC codec
#     round-trips (the numeric side is the oracle's closed form),
#     bitmap subset family over key-derived arrays, general-p
#     Minkowski norm (micro-rounded — libm cbrt wobble), URLHash
#     trailing-separator equality (engine-independent boolean),
#     pinned-UTC timeZoneOffset, YYYYMMDDToDate32, snowflake and
#     ULID read/write round-trips as epoch integers, ANSI interval
#     date-typing, and the finalizeAggregation compose.
_CH_PROBE22 = """
SELECT o_orderkey AS k,
       MACNumToString(o_orderkey * 4099) AS mac,
       MACStringToNum(MACNumToString(o_orderkey * 4099)) AS macrt,
       MACStringToOUI(MACNumToString(o_orderkey * 4099)) AS oui,
       arrayStringConcat(arrayMap(x -> toString(x),
           bitmapToArray(bitmapSubsetInRange(
               [o_orderkey % 7, o_orderkey % 5, o_orderkey % 3],
               1, 5))), ',') AS bsr,
       arrayStringConcat(arrayMap(x -> toString(x),
           bitmapToArray(subBitmap(
               [o_orderkey % 7, o_orderkey % 5, o_orderkey % 3],
               0, 2))), ',') AS sb,
       floor(LpNorm([toFloat64(o_orderkey % 13), 2.0, 1.0], 3)
             * 1000000 + 0.5) / 1000000 AS lp,
       toInt64(URLHash('http://e.com/a/')
               = URLHash('http://e.com/a')) AS uh,
       toInt64(timeZoneOffset(
           toDateTime('2024-01-01 00:00:00'))) AS tzo,
       YYYYMMDDToDate32(20240315) AS d32,
       toUnixTimestamp(snowflakeIDToDateTime(dateTimeToSnowflakeID(
           toDateTime('2024-03-15 10:30:45')))) AS sf_rt,
       toUnixTimestamp64Milli(toDateTime64(
           ULIDStringToDateTime('01GNB2S2FGN2P93QPXDNB4EN2R'), 3))
           AS ulid_ms,
       CAST(o_orderdate + toIntervalDay(o_orderkey % 5) AS DATE)
           AS dplus,
       finalizeAggregation(initializeAggregation('avgState',
           toFloat64(o_orderkey % 97))) AS fin
FROM orders WHERE o_orderkey <= 400 ORDER BY k
"""

O_PROBE22 = r"""
SELECT o_orderkey AS k,
       printf('%02X:%02X:%02X:%02X:%02X:%02X',
              (o_orderkey * 4099) // 1099511627776 % 256,
              (o_orderkey * 4099) // 4294967296 % 256,
              (o_orderkey * 4099) // 16777216 % 256,
              (o_orderkey * 4099) // 65536 % 256,
              (o_orderkey * 4099) // 256 % 256,
              (o_orderkey * 4099) % 256) AS mac,
       o_orderkey * 4099 AS macrt,
       (o_orderkey * 4099) // 16777216 AS oui,
       COALESCE(array_to_string(list_sort(list_distinct(list_filter(
           [o_orderkey % 7, o_orderkey % 5, o_orderkey % 3],
           x -> x >= 1 AND x < 5))), ','), '') AS bsr,
       COALESCE(array_to_string((list_sort(list_distinct(
           [o_orderkey % 7, o_orderkey % 5, o_orderkey % 3])))[1:2],
           ','), '') AS sb,
       floor(power(list_sum(list_transform(
           [CAST(o_orderkey % 13 AS DOUBLE), 2.0, 1.0],
           x -> power(abs(x), 3.0))), 1.0/3.0)
           * 1000000 + 0.5) / 1000000 AS lp,
       CAST(1 AS BIGINT) AS uh,
       CAST(0 AS BIGINT) AS tzo,
       DATE '2024-03-15' AS d32,
       CAST(epoch(TIMESTAMP '2024-03-15 10:30:45') AS BIGINT)
           AS sf_rt,
       CAST(1672188037616 AS BIGINT) AS ulid_ms,
       CAST(o_orderdate + (o_orderkey % 5) * INTERVAL 1 DAY AS DATE)
           AS dplus,
       CAST(o_orderkey % 97 AS DOUBLE) AS fin
FROM orders WHERE o_orderkey <= 400 ORDER BY k
"""


def q_dialect_probe22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim CH batch-17 per-row probe (module doc #39)."""
    return run_clickhouse_sql(spark, _CH_PROBE22, sf_dir, ("orders",))


# 40 (r13). Batch-18 per-row value gate: vector-norm alias family,
#     tuple dot/sum/intdiv-or-zero forms, OrNull arithmetic, ym/dt
#     interval constructors in arithmetic position, 3-arg
#     timestampSub, map contains/partial-sort helpers, key-value
#     extraction, trailing-char append, basename, byte slicing,
#     bitmask expansion (sum of the expansion reproduces the mask),
#     roundDown boundaries, isNullable literal tier, erfInv (libm
#     Newton), US month-first BestEffort parse, and
#     caseWithoutExpression; batch 19 adds PR-AUC (CH docs
#     example value 5/6 pinned in tests), case-insensitive
#     startsWith, second-precision Unix64 codecs and the
#     interval-tuple minus twin.  Every column deterministic;
#     DuckDB
#     spells the arithmetic directly.
_CH_PROBE23 = """
SELECT o_orderkey AS k,
       normL2([toFloat64(o_orderkey % 5), 4.0]) AS n2,
       floor(LinfNormalize([toFloat64(o_orderkey % 7 + 1), 2.0])[1]
             * 1000000 + 0.5) / 1000000 AS ln1,
       distanceL1([toFloat64(o_orderkey % 9)], [2.0]) AS dl1,
       scalarProduct((o_orderkey % 3, 2), (3, 4)) AS sp,
       (vectorSum((o_orderkey % 3, 2), (1, 4))).1 AS vs1,
       (tupleIntDivOrZeroByNumber((o_orderkey, 7),
           o_orderkey % 3)).1 AS tdz,
       divideOrNull(toFloat64(o_orderkey), o_orderkey % 2) AS dn,
       intDivOrNull(o_orderkey, o_orderkey % 3) AS idn,
       moduloOrNull(o_orderkey, o_orderkey % 4) AS mn,
       toUnixTimestamp(timestampSub(MINUTE, 5,
           toDateTime('2024-03-15 10:30:45'))) AS tsub,
       CAST(toDateTime('2024-03-15 10:30:45')
            + toIntervalMonth(o_orderkey % 3) AS DATE) AS dmon,
       toInt64(mapContainsKey(map('k', 1), 'k')) AS mck,
       toInt64(mapContainsValue(map('k', o_orderkey % 2), 1)) AS mcv,
       extractKeyValuePairs('a:1,b:2')['b'] AS kvp,
       appendTrailingCharIfAbsent('ab',
           substring('bc', (o_orderkey % 2) + 1, 1)) AS atc,
       basename('/x/y/f.txt') AS bn,
       byteSlice('Hello World', 2, o_orderkey % 4 + 1) AS bs,
       bitmaskToList(o_orderkey % 64) AS bml,
       toInt64(arraySum(bitmaskToArray(o_orderkey % 64))) AS bma,
       toFloat64(roundDown(toFloat64(o_orderkey % 9),
           [2.0, 4.0, 6.0])) AS rd,
       toInt64(isNullable(1)) AS inl,
       floor(erfInv(0.5) * 1000000000 + 0.5) / 1000000000 AS ei,
       toUnixTimestamp(parseDateTimeBestEffortUS(
           '3/15/2024 10:30:00')) AS pus,
       caseWithoutExpression(o_orderkey % 3 = 0, 'z',
           o_orderkey % 3 = 1, 'o', 'x') AS cwe,
       arrayStringConcat(arrayMap(x -> toString(x),
           mapKeys(mapPartialSort(1, map(2, 20, 1, 10)))), ',')
           AS mps,
       arrayPRAUC([0.1, 0.4, 0.35, 0.8],
           [o_orderkey % 2, 0, 1, 1]) AS prauc,
       toInt64(startsWithCaseInsensitive('Hello World',
           substring('hx', (o_orderkey % 2) + 1, 1))) AS swci,
       toUnixTimestamp64Second(fromUnixTimestamp64Second(
           1710000000 + o_orderkey)) AS u64s,
       CAST(subtractTupleOfIntervals(toDate('2024-03-15'),
           (toIntervalDay(o_orderkey % 3), toIntervalMonth(1)))
           AS DATE) AS subti
FROM orders WHERE o_orderkey <= 400 ORDER BY k
"""

O_PROBE23 = r"""
SELECT o_orderkey AS k,
       sqrt(CAST((o_orderkey % 5) * (o_orderkey % 5) + 16 AS DOUBLE))
           AS n2,
       floor((CAST(o_orderkey % 7 + 1 AS DOUBLE) /
              greatest(CAST(o_orderkey % 7 + 1 AS DOUBLE), 2.0))
             * 1000000 + 0.5) / 1000000 AS ln1,
       abs(CAST(o_orderkey % 9 AS DOUBLE) - 2.0) AS dl1,
       CAST(3 * (o_orderkey % 3) + 8 AS DOUBLE) AS sp,
       CAST((o_orderkey % 3) + 1 AS BIGINT) AS vs1,
       CAST(CASE WHEN o_orderkey % 3 = 0 THEN 0
            ELSE o_orderkey // (o_orderkey % 3) END AS BIGINT) AS tdz,
       CASE WHEN o_orderkey % 2 = 0 THEN NULL
            ELSE CAST(o_orderkey AS DOUBLE) END AS dn,
       CAST(CASE WHEN o_orderkey % 3 = 0 THEN NULL
            ELSE o_orderkey // (o_orderkey % 3) END AS BIGINT) AS idn,
       CAST(CASE WHEN o_orderkey % 4 = 0 THEN NULL
            ELSE o_orderkey % (o_orderkey % 4) END AS BIGINT) AS mn,
       CAST(epoch(TIMESTAMP '2024-03-15 10:25:45') AS BIGINT)
           AS tsub,
       CAST(TIMESTAMP '2024-03-15 10:30:45'
            + to_months(CAST(o_orderkey % 3 AS INT)) AS DATE)
           AS dmon,
       CAST(1 AS BIGINT) AS mck,
       CAST(o_orderkey % 2 AS BIGINT) AS mcv,
       '2' AS kvp,
       CASE WHEN o_orderkey % 2 = 0 THEN 'ab' ELSE 'abc' END AS atc,
       'f.txt' AS bn,
       substring('Hello World', 2,
                 CAST(o_orderkey % 4 + 1 AS INT)) AS bs,
       COALESCE(array_to_string(list_transform(list_filter(
           [1, 2, 4, 8, 16, 32],
           p -> ((o_orderkey % 64) & p) != 0),
           p -> CAST(p AS VARCHAR)), ','), '') AS bml,
       CAST(o_orderkey % 64 AS BIGINT) AS bma,
       CAST(CASE WHEN o_orderkey % 9 >= 6 THEN 6
                 WHEN o_orderkey % 9 >= 4 THEN 4
                 ELSE 2 END AS DOUBLE) AS rd,
       CAST(0 AS BIGINT) AS inl,
       CAST(0.476936276 AS DOUBLE) AS ei,
       CAST(epoch(TIMESTAMP '2024-03-15 10:30:00') AS BIGINT)
           AS pus,
       CASE WHEN o_orderkey % 3 = 0 THEN 'z'
            WHEN o_orderkey % 3 = 1 THEN 'o' ELSE 'x' END AS cwe,
       '1,2' AS mps,
       CASE WHEN o_orderkey % 2 = 0 THEN (1.0 + 2.0/3.0) / 2.0
            ELSE (1.0 + 2.0/3.0 + 3.0/4.0) / 3.0 END AS prauc,
       CAST(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END
           AS BIGINT) AS swci,
       CAST(1710000000 + o_orderkey AS BIGINT) AS u64s,
       CAST(TIMESTAMP '2024-03-15'
            - to_days(CAST(o_orderkey % 3 AS INT))
            - to_months(1) AS DATE) AS subti
FROM orders WHERE o_orderkey <= 400 ORDER BY k
"""


def q_dialect_probe23(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim CH batch-18 per-row probe (module doc #40)."""
    return run_clickhouse_sql(spark, _CH_PROBE23, sf_dir, ("orders",))


# 41 (r13). Batch-21 value gate: generate_series as a FROM-position
#     table function (inclusive bounds, empty inverted range), RFC
#     7386 jsonMergePatch (Arrow register, n-ary fold, null-removes),
#     trailing-UTC toString/toUnixTimestamp forms, the
#     parseDateTime64 format twin and the scale-TRUNCATING
#     (str, scale[, tz]) parseDateTime64BestEffort family, plus
#     literal-text quoting in the strftime converter
#     (code-review r13g).  DuckDB's own
#     generate_series has the same inclusive contract.
_CH_PROBE24 = """
SELECT g AS k,
       jsonMergePatch('{"a":1,"c":3}',
           concat('{"b":', toString(g), ',"c":null}')) AS jm,
       toString(toDateTime('2024-03-15 10:30:45'), 'UTC') AS ts2,
       toUnixTimestamp(toDateTime('2024-03-15 10:30:45'), 'UTC')
           AS tu,
       toUnixTimestamp64Milli(parseDateTime64BestEffort(
           '2024-03-15 10:30:45.123456', 3)) AS pd,
       toUnixTimestamp(parseDateTime64BestEffortOrZero(
           'garbage', 3)) AS pz,
       formatDateTime(toDateTime('2024-03-15 10:30:45'),
           '%Y year, day %d') AS fdt
FROM (SELECT generate_series AS g FROM generate_series(1, 9, 2)) t
ORDER BY k
"""

O_PROBE24 = """
SELECT g AS k,
       '{"a":1,"b":' || CAST(g AS VARCHAR) || '}' AS jm,
       '2024-03-15 10:30:45' AS ts2,
       CAST(epoch(TIMESTAMP '2024-03-15 10:30:45') AS BIGINT) AS tu,
       CAST(epoch_ms(TIMESTAMP '2024-03-15 10:30:45.123')
           AS BIGINT) AS pd,
       CAST(0 AS BIGINT) AS pz,
       '2024 year, day 15' AS fdt
FROM generate_series(1, 9, 2) t(g)
ORDER BY k
"""


def q_dialect_probe24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim CH batch-21 probe (module doc #41)."""
    return run_clickhouse_sql(spark, _CH_PROBE24, sf_dir, ())


QUERIES = {
    "dialect_strings": q_dialect_strings,
    "ch_script_lifecycle": q_ch_script_lifecycle,
    "ch_script_blue_green": q_ch_script_blue_green,
    "ch_script_retention": q_ch_script_retention,
    "ch_script_detach": q_ch_script_detach,
    "ch_script_detach_table": q_ch_script_detach_table,
    "ch_script_attach_full": q_ch_script_attach_full,
    "ch_script_partition_ops": q_ch_script_partition_ops,
    "ch_script_schema_evolution": q_ch_script_schema_evolution,
    "dialect_any_join": q_dialect_any_join,
    "dialect_any_join_on": q_dialect_any_join_on,
    "dialect_any_join_ineq": q_dialect_any_join_ineq,
    "dialect_any_join_noeq": q_dialect_any_join_noeq,
    "dialect_any_right_join": q_dialect_any_right_join,
    "dialect_combinators2": q_dialect_combinators2,
    "dialect_numbers": q_dialect_numbers,
    "dialect_file_read": q_dialect_file_read,
    "dialect_scalar_extras": q_dialect_scalar_extras,
    "dialect_probe8": q_dialect_probe8,
    "dialect_funnel_dedup": q_dialect_funnel_dedup,
    "dialect_json_url": q_dialect_json_url,
    "dialect_window_funnel": q_dialect_window_funnel,
    "dialect_retention": q_dialect_retention,
    "dialect_sequence_match": q_dialect_sequence_match,
    "dialect_sequence_count": q_dialect_sequence_count,
    "dialect_sequence_guard": q_dialect_sequence_guard,
    "dialect_sequence_guard2": q_dialect_sequence_guard2,
    "dialect_topk_weighted": q_dialect_topk_weighted,
    "dialect_distinct_on": q_dialect_distinct_on,
    "dialect_modern_sql": q_dialect_modern_sql,
    "dialect_ttest": q_dialect_ttest,
    "dialect_meanz": q_dialect_meanz,
    "dialect_probe9": q_dialect_probe9,
    "dialect_probe10": q_dialect_probe10,
    "dialect_probe11": q_dialect_probe11,
    "dialect_window_derivative": q_dialect_window_derivative,
    "dialect_argmax_combinators": q_dialect_argmax_combinators,
    "dialect_exp_decay": q_dialect_exp_decay,
    "dialect_probe13": q_dialect_probe13,
    "dialect_normalize": q_dialect_normalize,
    "dialect_vector_math": q_dialect_vector_math,
    "dialect_fuzzy_family": q_dialect_fuzzy_family,
    "dialect_json_paths": q_dialect_json_paths,
    "dialect_sum_overflow": q_dialect_sum_overflow,
    "dialect_uuid_generators": q_dialect_uuid_generators,
    "dialect_resample": q_dialect_resample,
    "dialect_reinterpret_tuples": q_dialect_reinterpret_tuples,
    "dialect_hilbert": q_dialect_hilbert,
    "dialect_weighted_quantiles": q_dialect_weighted_quantiles,
    "dialect_qw_expr": q_dialect_qw_expr,
    "dialect_group_concat_bounded": q_dialect_group_concat_bounded,
    "dialect_group_concat_join": q_dialect_group_concat_join,
    "dialect_probe20": q_dialect_probe20,
    "dialect_probe21": q_dialect_probe21,
    "dialect_probe22": q_dialect_probe22,
    "dialect_probe23": q_dialect_probe23,
    "dialect_probe24": q_dialect_probe24,
    "dialect_anova": q_dialect_anova,
    "dialect_geo_distance": q_dialect_geo_distance,
    "dialect_wkt_geometry": q_dialect_wkt_geometry,
    "dialect_series_tukey": q_dialect_series_tukey,
    "dialect_probe25": q_dialect_probe25,
    "dialect_probe26": q_dialect_probe26,
    "dialect_probe27": q_dialect_probe27,
    "dialect_series_fft": q_dialect_series_fft,
    "dialect_probe28": q_dialect_probe28,
    "dialect_probe29": q_dialect_probe29,
    "dialect_probe30": q_dialect_probe30,
    "dialect_statement_forms": q_dialect_statement_forms,
    "dialect_probe31": q_dialect_probe31,
    "dialect_probe32": q_dialect_probe32,
    "dialect_window_heads": q_dialect_window_heads,
    "dialect_tumble": q_dialect_tumble,
    "dialect_probe19": q_dialect_probe19,
    "dialect_star_modifiers": q_dialect_star_modifiers,
    "dialect_sample_clause": q_dialect_sample_clause,
    "dialect_sample_rows": q_dialect_sample_rows,
    "dialect_state_merge": q_dialect_state_merge,
    "dialect_state_merge2": q_dialect_state_merge2,
    "dialect_state_merge3": q_dialect_state_merge3,
    "dialect_state_merge4": q_dialect_state_merge4,
    "dialect_paste_join": q_dialect_paste_join,
    "dialect_group_array_tiers": q_dialect_group_array_tiers,
    "dialect_idn_family": q_dialect_idn_family,
    "dialect_json_merge": q_dialect_json_merge,
    "dialect_probe14": q_dialect_probe14,
    "dialect_interval_sweeps": q_dialect_interval_sweeps,
    "dialect_probe15": q_dialect_probe15,
    "dialect_probe16": q_dialect_probe16,
    "dialect_probe17": q_dialect_probe17,
    "dialect_probe18": q_dialect_probe18,
    "dialect_columns_select": q_dialect_columns_select,
    "dialect_dictionary": q_dialect_dictionary,
    "dialect_limit_by": q_dialect_limit_by,
    "dialect_asof_join": q_dialect_asof_join,
    "dialect_asof_on": q_dialect_asof_on,
    "dialect_with_fill": q_dialect_with_fill,
    "dialect_with_fill_date": q_dialect_with_fill_date,
    "dialect_with_fill_desc": q_dialect_with_fill_desc,
    "dialect_with_fill_multikey": q_dialect_with_fill_multikey,
    "dialect_with_fill_interp": q_dialect_with_fill_interp,
    "dialect_with_fill_expr": q_dialect_with_fill_expr,
    "dialect_topk": q_dialect_topk,
    "dialect_subscript": q_dialect_subscript,
    "dialect_combinators": q_dialect_combinators,
    "dialect_arrayjoin": q_dialect_arrayjoin,
    "dialect_multiif": q_dialect_multiif,
    "dialect_array_hof": q_dialect_array_hof,
    "dialect_with_totals": q_dialect_with_totals,
    "dialect_array_join_clause": q_dialect_array_join_clause,
    "dialect_array_join_zip": q_dialect_array_join_zip,
}

ORACLES = {
    "dialect_strings": O_STRINGS,
    "ch_script_lifecycle": O_CH_SCRIPT_LIFECYCLE,
    "ch_script_blue_green": O_BLUE_GREEN,
    "ch_script_retention": O_RETENTION_SCRIPT,
    "ch_script_detach": O_DETACH_SCRIPT,
    "ch_script_detach_table": O_DETACH_TABLE,
    "ch_script_attach_full": O_ATTACH_FULL,
    "ch_script_partition_ops": O_PARTITION_OPS,
    "ch_script_schema_evolution": O_CH_SCRIPT_SCHEMA_EVOLUTION,
    "dialect_any_join": O_ANY_JOIN,
    "dialect_any_join_on": O_ANY_JOIN_ON,
    "dialect_any_join_ineq": O_ANY_JOIN_INEQ,
    "dialect_any_join_noeq": O_ANY_JOIN_NOEQ,
    "dialect_any_right_join": O_ANY_RIGHT_JOIN,
    "dialect_combinators2": O_COMBINATORS2,
    "dialect_numbers": O_NUMBERS,
    "dialect_file_read": O_FILE_READ,
    "dialect_scalar_extras": O_SCALAR_EXTRAS,
    "dialect_probe8": O_PROBE8,
    "dialect_funnel_dedup": O_FUNNEL_DEDUP,
    "dialect_json_url": O_JSON_URL,
    "dialect_window_funnel": O_WINDOW_FUNNEL,
    "dialect_retention": O_RETENTION,
    "dialect_sequence_match": O_SEQ_MATCH,
    "dialect_sequence_count": O_SEQ_COUNT,
    "dialect_sequence_guard": O_SEQ_GUARD,
    "dialect_sequence_guard2": O_SEQ_GUARD2,
    "dialect_topk_weighted": O_TOPK_WEIGHTED,
    "dialect_distinct_on": O_DISTINCT_ON,
    "dialect_modern_sql": O_MODERN,
    "dialect_ttest": O_TTEST,
    "dialect_meanz": O_MEANZ,
    "dialect_probe9": O_PROBE9,
    "dialect_probe10": O_PROBE10,
    "dialect_probe11": O_PROBE11,
    "dialect_window_derivative": O_WINDOW_DERIVATIVE,
    "dialect_argmax_combinators": O_ARGMAX_COMBINATORS,
    "dialect_exp_decay": O_EXP_DECAY,
    "dialect_probe13": O_PROBE13,
    "dialect_normalize": O_NORMALIZE,
    "dialect_vector_math": O_VECTOR,
    "dialect_fuzzy_family": O_FUZZY_FAMILY,
    "dialect_json_paths": O_JSON_PATHS,
    "dialect_sum_overflow": O_SUM_OVERFLOW,
    "dialect_uuid_generators": O_UUID_GENERATORS,
    "dialect_resample": O_RESAMPLE,
    "dialect_reinterpret_tuples": O_REINTERPRET_TUPLES,
    "dialect_hilbert": O_HILBERT,
    "dialect_weighted_quantiles": O_WEIGHTED_QUANTILES,
    "dialect_qw_expr": O_QW_EXPR,
    "dialect_group_concat_bounded": O_GROUP_CONCAT_BOUNDED,
    "dialect_group_concat_join": O_GROUP_CONCAT_JOIN,
    "dialect_probe20": O_PROBE20,
    "dialect_probe21": O_PROBE21,
    "dialect_probe22": O_PROBE22,
    "dialect_probe23": O_PROBE23,
    "dialect_probe24": O_PROBE24,
    "dialect_anova": O_ANOVA,
    "dialect_geo_distance": O_GEO_DIST_ELL,
    "dialect_wkt_geometry": O_WKT,
    "dialect_series_tukey": O_SERIES_TUKEY,
    "dialect_probe25": O_PROBE25,
    "dialect_probe26": O_PROBE26,
    "dialect_probe27": O_PROBE27,
    "dialect_series_fft": O_SERIES_FFT,
    "dialect_probe28": O_PROBE28,
    "dialect_probe29": O_PROBE29,
    "dialect_probe30": O_PROBE30,
    "dialect_statement_forms": O_STATEMENT_FORMS,
    "dialect_probe31": O_PROBE31,
    "dialect_probe32": O_PROBE32,
    "dialect_window_heads": O_WINDOW_HEADS,
    "dialect_tumble": O_TUMBLE,
    "dialect_probe19": O_PROBE19,
    "dialect_star_modifiers": O_STAR_MODIFIERS,
    "dialect_sample_clause": _o_sample_dialect(),
    "dialect_sample_rows": _o_sample_rows(),
    "dialect_state_merge": O_STATE_MERGE,
    "dialect_state_merge2": O_STATE_MERGE2,
    "dialect_state_merge3": _o_state_merge3(),
    "dialect_state_merge4": O_STATE_MERGE4,
    "dialect_paste_join": O_PASTE_JOIN,
    "dialect_group_array_tiers": _o_group_array_tiers(),
    "dialect_idn_family": O_IDN_FAMILY,
    "dialect_json_merge": O_JSON_MERGE,
    "dialect_probe14": O_PROBE14,
    "dialect_interval_sweeps": O_INTERVAL_SWEEPS,
    "dialect_probe15": O_PROBE15,
    "dialect_probe16": O_PROBE16,
    "dialect_probe17": O_PROBE17,
    "dialect_probe18": O_PROBE18,
    "dialect_columns_select": O_COLUMNS_SELECT,
    "dialect_dictionary": O_DICTIONARY,
    "dialect_limit_by": O_LIMIT_BY,
    "dialect_asof_join": O_ASOF,
    "dialect_asof_on": O_ASOF_ON,
    "dialect_with_fill": O_WITH_FILL,
    "dialect_with_fill_date": O_WITH_FILL_DATE,
    "dialect_with_fill_desc": O_WITH_FILL_DESC,
    "dialect_with_fill_multikey": O_WITH_FILL_MULTI,
    "dialect_with_fill_interp": O_WITH_FILL_INTERP,
    "dialect_with_fill_expr": O_WITH_FILL_EXPR,
    "dialect_topk": O_TOPK,
    "dialect_subscript": O_SUBSCRIPT,
    "dialect_combinators": O_COMBINATORS,
    "dialect_arrayjoin": O_ARRAYJOIN,
    "dialect_multiif": O_MULTIIF,
    "dialect_array_hof": O_ARRAY_HOF,
    "dialect_with_totals": O_TOTALS,
    "dialect_array_join_clause": O_ARRAY_JOIN_CLAUSE,
    "dialect_array_join_zip": O_ARRAY_JOIN_ZIP,
}
