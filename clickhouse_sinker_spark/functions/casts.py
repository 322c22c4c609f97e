"""Cast expression library — the semantic core of the engine.

The reference parses each message field into a destination column type with
*saturating* (clamping) semantics, defaults on bad data, multi-layout
datetime detection, epoch scaling and IP validation
(parser/fastjson.go:129-188,582-621,739-785; parser/parser.go:31-65,160-226).

Every function here returns a Spark ``Column`` built from JVM-side built-in
functions only — no Python UDFs — so the whole projection stays inside
whole-stage codegen and scales linearly on a cluster.

Semantics preserved exactly (verified by tests/test_casts.py against the
reference's parser_test matrix):

- out-of-range numeric → clamp to type min/max, NOT null/error/wraparound
  (parser/fastjson.go:129-173): ``saturating_cast``.
- invalid/missing field → NULL if nullable else type default 0/""/false/Epoch
  (parser/fastjson.go:582-621, docs/dev/introduction.md:46-57):
  ``cast_with_default``.
- datetime strings matched against many layouts, first hit wins; epoch
  numbers scaled by a time unit; out-of-range → Epoch
  (parser/parser.go:31-65,204-226): ``parse_datetime_any``,
  ``epoch_to_timestamp``.  The layout parse is staged and shape-directed:
  each string is tried only in the layouts its shape key admits (its first
  character, and a few characters after its leading digits), and the
  day-name-normalised form is computed once per row, in a helper column
  (``DateTimeStages``).
- IP strings validated, invalid → 0.0.0.0 / :: (parser/fastjson.go:739-785):
  ``valid_ip_or_default``.

Works under ANSI mode (Spark 4 default): clamping happens *before* the cast
so no overflow is possible, and error paths use ``try_*`` variants.
"""

from __future__ import annotations

import datetime as _dt
import itertools
import re
import string
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..typemap import INT_BOUNDS

__all__ = [
    "saturating_cast",
    "cast_with_default",
    "default_literal",
    "parse_datetime_any",
    "epoch_to_timestamp",
    "valid_ip_or_default",
    "detect_datetime_layout",
    "parse_datetime_bound",
    "DateTimeStages",
    "filter_above",
    "DATETIME_LAYOUTS",
]

_EPOCH = _dt.datetime(1970, 1, 1)

# Spark SQL type name for each CH integer flavor
_SPARK_INT_TYPE = {
    "Int8": "tinyint",
    "Int16": "smallint",
    "Int32": "int",
    "Int64": "bigint",
    "UInt8": "smallint",
    "UInt16": "int",
    "UInt32": "bigint",
    "UInt64": "decimal(20,0)",
}

_FLOAT_MAX32 = 3.4028234663852886e38

# value range of each Spark integral type, for the integral-source fast path
_SPARK_INTEGRAL_RANGE = {
    "tinyint": (-(2**7), 2**7 - 1),
    "smallint": (-(2**15), 2**15 - 1),
    "int": (-(2**31), 2**31 - 1),
    "bigint": (-(2**63), 2**63 - 1),
}


def saturating_cast(col: Column | str, ch_int: str, src_type: str | None = None) -> Column:
    """Clamp-then-cast a numeric column to an integer type.

    Reference semantics (parser/fastjson.go:129-173): values outside the
    destination range clamp to the type min/max — unlike Spark's CAST which
    wraps (legacy) or errors (ANSI) — and fractional values truncate toward
    zero (Go ``int64(float64)``), not round.  ±inf and magnitudes beyond
    decimal(38) range clamp by sign; NaN → null.  Expressed as
    ``least(greatest(trunc(x), min), max)`` which Catalyst folds into
    codegen.  Non-numeric input should be pre-converted (``try_cast``
    upstream).

    ``src_type`` (optional, a Spark type name: tinyint/smallint/int/bigint/
    float/double) enables a bit-identical FAST PATH: the general expression
    widens every value through decimal(38,0) so that UInt64 and
    beyond-long decimals clamp exactly, but when the source is a known
    integral or binary-float column those branches are unreachable and the
    whole clamp stays in long/double arithmetic (the decimal ops dominated
    the projection stage of the ETL bench; see OPTIMIZATION_r13.md).
    Equivalence is pinned by tests/test_casts.py::test_fast_paths_match_general.
    """
    c = F.col(col) if isinstance(col, str) else col
    lo, hi = INT_BOUNDS[ch_int]

    if src_type in _SPARK_INTEGRAL_RANGE:
        # Integral source: values are exact; truncation is a no-op.
        slo, shi = _SPARK_INTEGRAL_RANGE[src_type]
        out_t = _SPARK_INT_TYPE[ch_int]
        lng = c.cast("bigint")
        if ch_int == "UInt64":
            # only the low clamp can apply (long max < UInt64 max); gate
            # NULL explicitly — greatest/least SKIP nulls in Spark
            return F.when(lng.isNotNull(), F.greatest(lng, F.lit(0))).cast(out_t)
        if slo >= lo and shi <= hi:
            return c.cast(out_t)  # source range fits: plain widening cast
        return F.when(
            lng.isNotNull(), F.least(F.greatest(lng, F.lit(lo)), F.lit(hi))
        ).cast(out_t)

    if src_type in ("float", "double") and ch_int != "UInt64":
        # Binary-float source, long-representable bounds: ANSI double→long
        # truncates toward zero and try_cast nulls only beyond long range
        # (with the documented 2^63 saturation edge, handled below), so the
        # clamp never needs decimals.
        d = c.cast("double")
        lng = d.try_cast("long")
        return (
            F.when(F.isnan(d), F.lit(None).cast("long"))
            # d < 2^63 gate: double(2^63) saturates try_cast to Long.MAX
            # instead of nulling (same edge as the general path); route it
            # to the sign clamp, which yields the identical hi bound.
            .when(
                lng.isNotNull() & (d < F.lit(float(1 << 63))),
                F.least(F.greatest(lng, F.lit(lo)), F.lit(hi)),
            )
            .when(d > 0, F.lit(hi))
            .when(d < 0, F.lit(lo))
            .cast(_SPARK_INT_TYPE[ch_int])
        )
    # bounds as string literals: UInt64's max exceeds the JVM long that a
    # plain python-int literal would be marshalled into
    lo_d = F.lit(str(lo)).cast("decimal(38,0)")
    hi_d = F.lit(str(hi)).cast("decimal(38,0)")
    # truncate toward zero (x % 1 keeps the dividend's sign in Spark), then
    # widen EXACTLY into decimal(38,0).  The naive double→decimal(38,0)
    # cast goes through the double's shortest decimal repr (17 significant
    # digits) and silently loses low bits for |x| in [2^53, 2^63) — e.g.
    # int64(double(2^58)) must be 288230376151711744 (Go truncation,
    # parser/fastjson.go:129-151) not ...740.  So:
    #   |t| < 2^63      → try_cast("long"): exact binary truncation for
    #                     doubles (Java (long)(double)) AND exact for
    #                     decimal/integer sources.
    #   t ∈ [2^63,2^64) → offset trick: t - 2^63 is computed in the
    #                     SOURCE type (double subtraction is exact there —
    #                     aligned exponents; decimal subtraction is always
    #                     exact), lands in long range, widen the long and
    #                     add 2^63 back as decimal.
    #   beyond          → decimal try_cast (exact for decimal sources;
    #                     doubles of that magnitude clamp for every target
    #                     type anyway, so shortest-repr wobble is harmless).
    # try_cast always applies ANSI semantics (null on overflow/NaN/±inf)
    # regardless of session mode.
    t = c - (c % F.lit(1))
    off = F.lit(str(1 << 63)).cast("decimal(38,0)")
    lng = t.try_cast("long")
    lng_hi = (t - off).try_cast("long")
    dbl = c.try_cast("double")
    # dbl < 2^63 gate: Spark's try_cast(double→long) range check compares
    # against Long.MAX.toDouble == 2^63 exactly, so double(2^63) SATURATES
    # to Long.MAX instead of nulling — route every value whose double view
    # reaches 2^63 through the offset branch (still exact: the subtraction
    # happens in the source type, and e.g. long(2^63-1) whose double view
    # rounds UP to 2^63 yields lng_hi = -1 → 2^63-1).  NaN compares greater
    # than everything in Spark, so it skips both guarded branches.
    wide = (
        F.when(
            lng.isNotNull() & (dbl < F.lit(float(1 << 63))),
            lng.cast("decimal(38,0)"),
        )
        .when((dbl >= 0) & lng_hi.isNotNull(), lng_hi.cast("decimal(38,0)") + off)
        .otherwise(t.try_cast("decimal(38,0)"))
    )
    # greatest/least SKIP nulls in Spark — gate explicitly so NULL stays
    # NULL instead of clamping to the type minimum.  When the wide path
    # nulls out but the double view is a non-NaN number, the magnitude
    # exceeds decimal(38) entirely — clamp by sign (NaN > 0 is TRUE in
    # Spark's ordering, so it must be excluded explicitly).
    clamped = (
        F.when(wide.isNotNull(), F.least(F.greatest(wide, lo_d), hi_d))
        .when(F.isnan(dbl), F.lit(None).cast("decimal(38,0)"))
        .when(dbl > 0, hi_d)
        .when(dbl < 0, lo_d)
    )
    return clamped.cast(_SPARK_INT_TYPE[ch_int])


def saturating_cast_float32(col: Column | str) -> Column:
    """Float64 → Float32 with clamp at ±max-float32 (parser/fastjson.go:175-188)."""
    c = F.col(col) if isinstance(col, str) else col
    d = c.cast("double")
    return (
        F.when(d > F.lit(_FLOAT_MAX32), F.lit(_FLOAT_MAX32))
        .when(d < F.lit(-_FLOAT_MAX32), F.lit(-_FLOAT_MAX32))
        .otherwise(d)
        .cast("float")
    )


def default_literal(spark_type: str) -> Column:
    """Type default used for non-nullable columns on bad/missing data
    (parser/fastjson.go:582-621): 0 for numbers, "" for strings, false for
    bool, Epoch for timestamps, [] for arrays."""
    t = spark_type.lower()
    if t.startswith("decimal"):
        return F.lit(0).cast(spark_type)
    if t in ("tinyint", "smallint", "int", "bigint", "byte", "short", "long", "integer"):
        return F.lit(0).cast(spark_type)
    if t in ("float", "double"):
        return F.lit(0.0).cast(spark_type)
    if t == "boolean":
        return F.lit(False)
    if t == "timestamp":
        return F.lit(_EPOCH).cast("timestamp")
    if t == "date":
        return F.lit(_EPOCH.date())
    if t.startswith("array"):
        return F.array().cast(spark_type)
    return F.lit("")


def cast_with_default(col: Column | str, spark_type: str, nullable: bool) -> Column:
    """``try_cast`` + default-on-error: NULL if nullable else type default.

    Reference behavior table docs/dev/introduction.md:46-57 and
    parser/fastjson.go:582-621.
    """
    c = F.col(col) if isinstance(col, str) else col
    tried = c.try_cast(spark_type)
    if nullable:
        return tried
    return F.coalesce(tried, default_literal(spark_type))


# The reference tries 25 Go layouts (parser/parser.go:31-65).  Expressed as
# Spark datetime patterns, deduplicated where Spark's parser already accepts
# variants (e.g. optional fractional seconds via [.SSSSSSSSS]).
DATETIME_LAYOUTS = [
    "yyyy-MM-dd'T'HH:mm:ss[.SSSSSSSSS]XXX",   # RFC3339 with offset
    "yyyy-MM-dd'T'HH:mm:ss[.SSSSSSSSS]X",
    "yyyy-MM-dd'T'HH:mm:ss[.SSSSSSSSS]",
    "yyyy-MM-dd HH:mm:ss[.SSSSSSSSS]XXX",
    "yyyy-MM-dd HH:mm:ss[.SSSSSSSSS]",
    "yyyy-MM-dd",
    "dd/MM/yyyy",
    "dd MMM yy HH:mm XXX",                    # RFC822Z-ish
    "MM/dd/yyyy HH:mm:ss",
    "yyyyMMdd HH:mm:ss",
    # ANSIC/RFC1123-family day-name layouts (parser/parser.go:31-44 tries
    # "Mon Jan 2 15:04:05 2006" etc).  Spark cannot parse EEE day-names, so
    # ``_prenormalize`` strips the day-name prefix, collapses runs of
    # spaces (ANSIC pads the day: "Jan  2"), and maps the named zones
    # GMT/UTC/UT to +00:00; these layouts then match the stripped
    # remainder.
    "dd MMM yyyy HH:mm:ss XXX",               # RFC1123  (after strip)
    "dd MMM yyyy HH:mm:ss X",                 # RFC1123Z (after strip)
    "MMM d HH:mm:ss yyyy",                    # ANSIC    (after strip)
    "MMM d HH:mm:ss zzz yyyy",                # UnixDate (after strip)
    "dd-MMM-yy HH:mm:ss XXX",                 # RFC850   (after strip)
]

# Spark parses case-insensitively, and Java's case-insensitive character
# match also pairs these four with an ASCII letter ('ſep' reads as 'Sep')
_LETTERS = string.ascii_letters + "\u0130\u0131\u017f\u212a"  # İ ı ſ, Kelvin K
_DIGITS = "0123456789"
# A string's shape key: the class of its first character, then the classes
# of its rest at these offsets, where the rest is the string after its
# leading run of signs and digits (so a year of any width shifts nothing).
_LEAD = "+-" + _DIGITS
_KEY_AT = (0, 3, 7)


def _char_class(ch: str) -> str:
    """'a' for a letter, 'd' for an ASCII digit, else ``ch`` itself (the
    per-character map of ``_shape_signature``)."""
    return "a" if ch in _LETTERS else "d" if ch in _DIGITS else ch


def _layout_shape(fmt: str) -> frozenset[str]:
    """The shape keys of the strings ``fmt`` can parse.

    Walks the pattern field by field, spelling each field's possible
    classes: literals as themselves; ``yy``, ``MM``, ``dd``, ``HH``, ``mm``
    and ``ss`` as 2 digits; ``MMM`` as 3 letters (Locale.US month
    abbreviations); ``yyyy`` as 4 digits, or a sign and 4 or more; ``d`` as
    1 or more digits (Spark's strict parse, pinned by the differential
    test).  An optional section, a zone, a fraction or any other field
    leaves the rest of the string open, which is fine as long as no key
    offset falls there; a pattern whose key it would leave open is an
    error."""
    width = max(_KEY_AT) + 2  # every wider number spells the same keys
    spellings = [""]
    closed = True
    for m in re.finditer(r"'([^']*)'|([A-Za-z])\2*|(.)", fmt):
        quoted, letter, lit = m.groups()
        n = len(m.group(0))
        options = None  # an optional section, an escaped quote, a zone …
        if letter is None:
            if lit != "[" and quoted != "":
                options = ["".join(map(_char_class, quoted or lit))]
        elif letter == "M" and n == 3:
            options = ["aaa"]
        elif letter == "y" and n == 4:
            options = ["dddd"] + [s + "d" * w for s in "+-" for w in range(4, width)]
        elif letter == "d" and n == 1:
            options = ["d" * w for w in range(1, width)]
        elif letter in "yMdHms" and n == 2:
            options = ["dd"]
        if options is None:
            closed = False
            break
        spellings = [s + o for s in spellings for o in options]
    keys = set()
    for s in spellings:
        rest = s.lstrip("+-d")
        if not s or (not closed and len(rest) <= max(_KEY_AT)):
            raise ValueError(f"no shape key for the layout {fmt!r}")
        keys.add(s[0] + "".join(rest[k : k + 1] for k in _KEY_AT))
    return frozenset(keys)


# the shape keys of each layout
_LAYOUT_SHAPES = {fmt: _layout_shape(fmt) for fmt in DATETIME_LAYOUTS}


def _shape_signature(c: Column) -> Column:
    """Per-row shape key of a string (``_layout_shape``): its first
    character and its rest at ``_KEY_AT``, letters mapped to 'a' and ASCII
    digits to 'd' (``_char_class`` in SQL); a character past the end is
    empty."""
    rest = F.ltrim(c, F.lit(_LEAD))
    return F.translate(
        F.concat(F.substring(c, 1, 1), *[F.substring(rest, k + 1, 1) for k in _KEY_AT]),
        _LETTERS + _DIGITS,
        "a" * len(_LETTERS) + "d" * len(_DIGITS),
    )


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string expression that parses to ``s`` whatever
    the session's quoting confs: quotes spelled ``chr(39)``, and no
    backslashes to escape (the layout patterns have none)."""
    parts = [f"'{part}'" for part in s.split("'")]
    return parts[0] if len(parts) == 1 else f"concat({', chr(39), '.join(parts)})"


def _candidate_lists() -> dict[str, list[str]]:
    """The layouts that can match a string, in ``DATETIME_LAYOUTS`` order,
    by the string's shape key, for each key some layout has; a string of
    any other key matches no layout.  A layout is left out only where the
    string's first character or its rest at ``_KEY_AT`` cannot be what the
    layout puts there."""
    keys = sorted(set().union(*_LAYOUT_SHAPES.values()))
    return {key: [f for f in DATETIME_LAYOUTS if key in _LAYOUT_SHAPES[f]] for key in keys}


def _candidates(c: Column, lists: dict[str, list[str]]) -> Column:
    """``c``'s candidate list from ``_candidate_lists``: a literal map from
    each key to its list; NULL for any other key, so every attempt slot
    has a NULL format.  The constants are SQL text, one parse each, not
    one py4j call per element."""

    def array(fmts: list[str]) -> str:
        return f"array({', '.join(map(_sql_str, fmts))})"

    by_shape = ", ".join(f"{_sql_str(key)}, {array(fmts)}" for key, fmts in lists.items())
    return F.try_element_at(F.expr(f"map({by_shape})"), _shape_signature(c))


def _digit_led(c: Column) -> Column:
    """Whether ``c``'s first character is an ASCII digit (its shape key
    leads with 'd'): at least "0" and below ":", the next character."""
    return (c >= F.lit("0")) & (c < F.lit(":"))


_DAY_NAMES = ("mon", "tue", "wed", "thu", "fri", "sat", "sun")


def _day_led(c: Column) -> Column:
    """Whether ``c``'s first three letters are, case-insensitively, a day
    name: no layout reads a day name, and ``MMM`` reads only month names,
    so no layout parses such a string before ``_prenormalize``.  Folds
    ASCII case by ``translate``: ``lower`` loads Spark's Unicode case
    mapping on first use, about a second and 370 MB of RSS per JVM."""
    head = F.translate(F.substring(c, 1, 3), string.ascii_uppercase, string.ascii_lowercase)
    return head.isin(*_DAY_NAMES)


_DAYNAME_RE = r"^(Mon|Tue|Wed|Thu|Fri|Sat|Sun)[a-z]*,?\s+"


def _prenormalize(c: Column) -> Column:
    """Normalize day-name-family strings so the layouts can parse them:
    drop the (redundant) leading day name, collapse space runs, rewrite the
    fixed named zones to an offset.  Strictly widening — strings that
    already parse are untouched by every rule (\\bZ\\b cannot match the 'Z'
    glued to a digit in ISO strings: no word boundary inside '0Z')."""
    out = F.regexp_replace(c, _DAYNAME_RE, "")
    out = F.regexp_replace(out, r"\s+", " ")
    return F.regexp_replace(out, r"\b(GMT|UTC|UT)\b", "+00:00")


class DateTimeStages:
    """Helper columns of shape-directed DateTime parses, grouped by stage.

    ``parse_datetime_any(col, stages)`` records each value its parse binds
    (the source string, the first attempt, the candidate lists, the
    normalised string …) as a helper column here and returns an expression
    over those columns.  ``bind(df)`` adds them to ``df`` as one narrow
    projection per stage, each reading only earlier stages: every value is
    computed once per row, Catalyst's CollapseProject keeps a projection
    whose value is read more than once (cheap ones, like a plain column
    reference, are merged away), and whole-stage codegen fuses them all
    into one stage.  Build every parse first, then ``bind`` (the
    expressions name columns that only ``bind`` adds), then select the
    parse expressions: the select drops the helpers by not naming them.
    Helper names (``__dt0``, ``__dt1`` …) are unique per instance, so bind
    one instance per select."""

    def __init__(self) -> None:
        self._stages: list[dict[str, Column]] = []
        self._depth = 0
        self._ids = itertools.count()

    def _let(self, value: Column, body: Callable[[Column], Column]) -> Column:
        if self._depth == len(self._stages):
            self._stages.append({})
        name = f"__dt{next(self._ids)}"
        self._stages[self._depth][name] = value
        self._depth += 1
        try:
            return body(F.col(name))
        finally:
            self._depth -= 1

    def bind(self, df: DataFrame) -> DataFrame:
        for stage in self._stages:
            df = df.withColumns(stage)
        return df

    def filter(self, df: DataFrame, cond: Column) -> DataFrame:
        """``df.filter(cond)`` for ``df`` a select over this instance's
        helpers, kept above that select (``filter_above``): pushed below the
        helper projections, the filter would re-inline every bound value
        many times over (the normalised string and the source field dozens
        of times), the shape the helpers exist to avoid, and planning one
        micro-batch took seconds."""
        return filter_above(df, cond) if self._stages else df.filter(cond)


def filter_above(df: DataFrame, cond: Column) -> DataFrame:
    """``df.filter(cond)``, evaluated on the values ``df``'s top projection
    computed.  Catalyst pushes a filter below every deterministic
    projection, substituting each alias's definition into the condition, so
    an expensive value the condition reads (a decoded message, a bound
    parse helper) is computed again inside the filter.  A non-deterministic
    field (``spark_partition_id()``, read by the condition so it is not
    pruned) in the projection under the filter keeps the filter above it."""
    return (
        df.withColumn("__barrier", F.spark_partition_id())
        .filter(cond & (F.col("__barrier") >= 0))
        .drop("__barrier")
    )


def _let_in_lambda(value: Column, body: Callable[[Column], Column]) -> Column:
    """Bind ``value`` once through a one-element ``transform``, for parses
    inside higher-order-function lambdas (array elements, map values), which
    run interpreted anyway.  At the top level this would take the whole
    projection out of whole-stage codegen: use ``DateTimeStages`` there."""
    return F.transform(F.array(value), body)[0]


def parse_datetime_any(col: Column | str, stages: DateTimeStages | None = None) -> Column:
    """Try the layouts in order; first parse wins (≙ parser/parser.go:160-202).

    The reference memoizes the first successful layout per *field*; this
    gives the same result on homogeneous fields (documented delta:
    heterogeneous fields parse per-value here; the reference's
    detect-then-bind mode is ``detect_datetime_layout`` +
    ``parse_datetime_bound``).  A staged, shape-directed parse, all JVM-side:

    1. ``r0``: a digit-led raw string in layout 0 (RFC3339, the ETL hot
       path).
    2. If that fails, the raw string in the layouts its shape key admits
       (``_candidates``: the first character's class and the rest's
       characters at ``_KEY_AT`` decide, e.g. ``dd/MM/yyyy`` puts '/'
       first after the leading digits), layout 0 left out where ``r0``
       tried it.  A day-name-led string (``_day_led``) has no raw
       attempt.
    3. If none matches, ``p = _prenormalize(c)``, computed once, in the
       layouts *its* shape key admits.

    Same result as trying all layouts raw and then all normalised (the
    test oracle): a layout is skipped only where it cannot match, and
    ``_prenormalize`` is strictly widening, so a raw hit is the result the
    normalised attempts would give.  Each day-name family of the reference
    (RFC1123, ANSIC, RFC850) costs one parse: its normalised form's key
    leads with the layout that parses it.

    Each stage has as many attempt slots as its longest candidate list (3
    raw, 3 normalised), not one per layout: whole-stage codegen puts every
    column of a projection into one generated method, and HotSpot does not
    JIT-compile a method above 8 000 bytecode bytes, so every slot counts
    against the whole micro-batch's budget.

    Each bound value must be computed once per row, or the expression
    grows past what codegen compiles.  With ``stages``, the values become
    helper columns that ``stages.bind(df)`` adds before the select that
    reads the returned expression (how ``operators.project`` uses it).
    Without, they are bound by ``_let_in_lambda``: only for use inside
    higher-order-function lambdas.
    """
    c = F.col(col) if isinstance(col, str) else col
    let = stages._let if stages is not None else _let_in_lambda
    first = DATETIME_LAYOUTS[0]
    p_lists = _candidate_lists()
    # r0 has tried layout 0 on every digit-led string
    raw_lists = {
        key: [f for f in fmts if f != first or key[0] != "d"]
        for key, fmts in p_lists.items()
    }
    # one slot per member of the longest candidate list; a slot past the
    # end of a row's list has a NULL format and costs nothing
    n_raw, n_p = (max(map(len, lists.values())) for lists in (raw_lists, p_lists))
    slots = [F.lit(k) for k in range(max(n_raw, n_p))]

    def attempts(s: Column, cand: Column, n: int) -> list[Column]:
        return [F.try_to_timestamp(s, F.get(cand, k)) for k in slots[:n]]

    return let(c, lambda c:
        let(F.when(_digit_led(c), F.try_to_timestamp(c, F.lit(first))), lambda r0:
        let(F.when(r0.isNull() & ~_day_led(c), _candidates(c, raw_lists)), lambda cand_raw:
        let(F.coalesce(r0, *attempts(c, cand_raw, n_raw)), lambda raw:
        let(F.when(raw.isNull(), _prenormalize(c)), lambda p:
        let(F.when(p.isNotNull(), _candidates(p, p_lists)), lambda cand_p:
        F.coalesce(raw, *attempts(p, cand_p, n_p))))))))  # fmt: skip


def epoch_to_timestamp(col: Column | str, time_unit: float = 1.0) -> Column:
    """Numeric epoch → timestamp scaled by ``time_unit`` seconds
    (≙ UnixFloat, parser/parser.go:204-226).  Out-of-range (before 1970 or
    after 9999-12-31) → Epoch, matching the reference's guard.

    The scaling is done in exact decimal arithmetic (time_unit rendered as
    a 9-dp decimal literal) so results are bit-stable — double rounding at
    the microsecond boundary would otherwise make replays non-idempotent.
    """
    c = F.col(col) if isinstance(col, str) else col
    unit = F.lit(format(float(time_unit), ".9f")).cast("decimal(12,9)")
    secs = c.cast("decimal(20,6)") * unit  # exact: decimal(33,15)
    ts = F.timestamp_seconds(secs)
    max_ok = F.lit(253402300799)  # 9999-12-31T23:59:59Z
    return F.when((secs >= F.lit(0)) & (secs <= max_ok), ts).otherwise(
        F.lit(_EPOCH).cast("timestamp")
    )


_IPV4_RE = r"^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$"
# pragmatic IPv6 matcher: hex groups with optional :: compression, plus
# the IPv4-embedded tail forms (::ffff:1.2.3.4 — the most common IPv6
# strings in dual-stack logs; Go's net.ParseIP accepts them all)
_IPV4_TAIL = r"((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
_IPV6_RE = (
    r"^(([0-9a-fA-F]{1,4}:){7}[0-9a-fA-F]{1,4}|([0-9a-fA-F]{1,4}:){1,7}:|([0-9a-fA-F]{1,4}:){1,6}:[0-9a-fA-F]{1,4}|([0-9a-fA-F]{1,4}:){1,5}(:[0-9a-fA-F]{1,4}){1,2}|([0-9a-fA-F]{1,4}:){1,4}(:[0-9a-fA-F]{1,4}){1,3}|([0-9a-fA-F]{1,4}:){1,3}(:[0-9a-fA-F]{1,4}){1,4}|([0-9a-fA-F]{1,4}:){1,2}(:[0-9a-fA-F]{1,4}){1,5}|[0-9a-fA-F]{1,4}:((:[0-9a-fA-F]{1,4}){1,6})|:((:[0-9a-fA-F]{1,4}){1,7}|:)"
    r"|([0-9a-fA-F]{1,4}:){6}" + _IPV4_TAIL
    + r"|::(ffff(:0{1,4})?:)?" + _IPV4_TAIL
    + r"|([0-9a-fA-F]{1,4}:){1,4}:" + _IPV4_TAIL
    + r")$"
)


def valid_ip_or_default(col: Column | str, v6: bool = False) -> Column:
    """Validated IP string; invalid → zero IP (parser/fastjson.go:739-785)."""
    c = F.col(col) if isinstance(col, str) else col
    if v6:
        return F.when(c.rlike(_IPV6_RE), c).otherwise(F.lit("::"))
    return F.when(c.rlike(_IPV4_RE), c).otherwise(F.lit("0.0.0.0"))


def detect_datetime_layout(
    df, col: str, layouts: list[str] | None = None
) -> str | None:
    """Phase 1 of the two-phase strict P9 mode: find the layout the
    reference would memoize for this field — the FIRST layout (in list
    order) that parses the field's first non-null value
    (parser/parser.go:160-189 walks the layout table once and caches the
    winner per field forever).

    Driver-side control-plane sampling (two one-row jobs, like schema
    inference) — the detected layout is then BOUND into the plan by
    ``parse_datetime_bound``, keeping the hot path fully JVM-side and the
    commitment deterministic across executors (unlike a per-worker
    cache).  Returns None when the field has no non-null values or none
    of the layouts match."""
    layouts = layouts or DATETIME_LAYOUTS
    first = (
        df.select(F.col(col).alias("v"))
        .where(F.col("v").isNotNull())
        .limit(1)
        .collect()
    )
    if not first:
        return None
    probe = df.sparkSession.createDataFrame([(str(first[0][0]),)], "v string")
    hits = probe.select(
        *[
            parse_datetime_bound("v", fmt).isNotNull().alias(f"f{i}")
            for i, fmt in enumerate(layouts)
        ]
    ).first()
    for i, fmt in enumerate(layouts):
        if hits[f"f{i}"]:
            return fmt
    return None


def parse_datetime_bound(col: Column | str, fmt: str) -> Column:
    """Phase 2 of the strict P9 mode: parse with ONE committed layout —
    values in any other layout return NULL, exactly the reference's
    post-memoization behavior.  Raw try first, then the day-name
    pre-normalized form (same widening as parse_datetime_any)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(
        F.try_to_timestamp(c, F.lit(fmt)),
        F.try_to_timestamp(_prenormalize(c), F.lit(fmt)),
    )
