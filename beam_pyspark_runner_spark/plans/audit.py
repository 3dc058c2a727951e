"""Plan governance auditors: find scale-unsafe shapes in optimized plans.

Three audits over the *optimized logical plan* string, shared by the
test suite (gated full-registry sweeps in ``tests/test_scale_patterns``)
and by query code itself (``checkpoint_audited`` runs them on every
segment about to be pinned with ``localCheckpoint`` — lineage cut at a
checkpoint is otherwise invisible to any post-hoc plan audit):

1. ``unbounded_hinted_broadcasts`` — ``F.broadcast()`` of a subtree
   whose cardinality grows with the corpus. Planner-chosen broadcasts
   are size-gated by Spark itself (at 100 TB the estimate crosses
   ``autoBroadcastJoinThreshold`` and the planner falls back to a
   shuffle join); a HINT overrides that gate unconditionally, so every
   hinted build side must be bounded *by construction*.
2. ``unbounded_cross_joins`` — Cartesian joins where neither side is
   bounded (quadratic at 100 TB regardless of physical strategy).
3. ``unpartitioned_ordered_windows`` — ordered window functions with no
   PARTITION BY (a single task sorts the world).

Bounded-by-construction, for a subtree, means every path to a leaf
crosses a cardinality cap the auditor can *prove* from the plan text:

- an ``Aggregate`` whose grouping keys are themselves bounded: a global
  aggregate (one output row), keys over the constant dimensions
  (nation/region — the only TPC-H tables whose size is independent of
  scale factor), or keys defined by a literal-modulus bucket
  (``pmod(hash(x), 32)``) or a calendar-grain function (``to_date`` /
  ``date_trunc`` / ``year`` …). An aggregate grouped by an ENTITY-grain
  key (custkey, node id, user id) collapses nothing — its output grows
  linearly with the corpus — and must NOT certify (the round-9 audit's
  blanket "Aggregate ⇒ bounded" rule waved exactly those through);
- a ``GlobalLimit``/``LocalLimit`` (TakeOrdered pools, top-k heaps);
- a ``LocalRelation``/``OneRowRelation`` (literal constants);
- a literal ``Range`` spine of <= ``RANGE_CAP`` rows;
- a constant-dimension leaf scan (nation/region);
- a key-equality-to-a-LITERAL probe filter directly over a leaf
  pipeline (``vec_id = 0``-style probe rows). Column-to-column
  equality does not count — it selects a corpus fraction, not a row.

``LogicalRDD`` (a ``localCheckpoint`` output) deliberately does NOT
certify: the plan text carries no evidence about the checkpointed
segment's cardinality, and the round-9 rule that trusted it blinded the
audit to everything behind a checkpoint. Segments are instead audited
at construction time by ``checkpoint_audited``, and a hinted broadcast
of a genuinely bounded checkpointed pool (a TakeOrdered top-k, a
capped candidate set) carries the query-level ``bounded_broadcast``
tag — a human adjudication recorded next to the query.

Anything else needs the ``bounded_broadcast`` / ``bounded_cross`` /
``bounded_window`` tag, exactly like the single-task-window discipline.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

RANGE_CAP = 100_000  # literal spines above this are not "small"
PROBE_CAP = 4096  # dense-id probe ranges above this are not "a few rows"

_PREFIX_CHUNKS = {":  ", "   ", "+- ", ":- "}


def parse_plan(plan: str) -> list[tuple[int, str]]:
    """Indent-parse a Spark plan string into (depth, node_text) rows.

    Spark prints one node per line; each tree level contributes exactly
    one 3-char prefix chunk drawn from ``:  `` / three spaces / ``+- ``
    / ``:- ``."""
    out = []
    for line in plan.splitlines():
        if not line.strip():
            continue
        i = 0
        while line[i : i + 3] in _PREFIX_CHUNKS:
            i += 3
        out.append((i // 3, line[i:]))
    return out


def _subtree(nodes: list[tuple[int, str]], idx: int) -> list[tuple[int, str]]:
    d = nodes[idx][0]
    j = idx + 1
    while j < len(nodes) and nodes[j][0] > d:
        j += 1
    return nodes[idx:j]


def _children(nodes: list[tuple[int, str]], idx: int) -> list[int]:
    d = nodes[idx][0]
    kids = []
    j = idx + 1
    while j < len(nodes) and nodes[j][0] > d:
        if nodes[j][0] == d + 1:
            kids.append(j)
        j += 1
    return kids


_RANGE_RE = re.compile(r"^Range \((-?\d+), (-?\d+), step=(-?\d+)")

# TPC-H fixes nation at 25 rows and region at 5 at EVERY scale factor —
# they are the only tables whose cardinality is independent of the
# corpus, so a broadcast whose leaves are all nation/region scans is
# bounded by the data model itself.
_CONSTANT_DIM_LEAVES = ("Relation [n_nationkey", "Relation [r_regionkey")


def _top_level_groups(text: str) -> list[str]:
    """The top-level ``[...]`` bracket groups of a plan-node line."""
    groups, depth, cur = [], 0, ""
    for ch in text:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = ""
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(cur)
                continue
        if depth >= 1:
            cur += ch
    return groups


def _split_top_commas(s: str) -> list[str]:
    """Split an expression list on commas not nested in (), [] or <>."""
    items, depth, cur = [], 0, ""
    for ch in s:
        if ch in "([<":
            depth += 1
        elif ch in ")]>":
            depth -= 1
        if ch == "," and depth == 0:
            items.append(cur.strip())
            cur = ""
        else:
            cur += ch
    if cur.strip():
        items.append(cur.strip())
    return items


_ATTR_RE = re.compile(r"^(\w+)#\d+[A-Za-z]*$")
_FIELD_ACCESS_RE = re.compile(r"^(\w+#\d+[A-Za-z]*)\.(\w+)$")

# Column names whose value domain is fixed by the TPC-H data model
# regardless of which table carries them: nation keys (25 values) and
# region keys (5) are constant-cardinality even as foreign keys.
_CONSTANT_DIM_KEY_SUFFIXES = ("nationkey", "regionkey")

# Calendar-grain COLUMNS by the data model: every *date column in the
# fixtures is day-grain (o_orderdate, l_shipdate, …) — grouping by one
# yields at most days-of-history rows. Timestamps are excluded: a raw
# ts is corpus-grain. English words ending in "-date" (candidate,
# validate, update) must not smuggle in.
_CALENDAR_COL_RE = re.compile(
    r"(?:^|_)(?:day|month|year|quarter|week|date)(?:_|$)"
)
_NOT_A_DATE = ("candidate", "validate", "update", "mandate", "consolidate")


def _calendar_col(name: str) -> bool:
    if _CALENDAR_COL_RE.search(name):
        return True
    return name.endswith("date") and not name.endswith(_NOT_A_DATE)


# Grouping-key names that are provably low-cardinality in THIS data
# model. Contract (round-11): every entry cites the fixture domain
# that bounds it, and every entry must have at least one registered
# dependent — the round-11 ablation (instrumented _col_cap over all
# 524 optimized plans: /tmp-reproducible via ARCHITECTURE round-11
# notes) deleted the 19 exact names and 12 suffixes with ZERO
# dependents (band/bucket/bin/cell/decile/… — all now proven via
# their defining expressions instead: literal modulus, hex-substring,
# CASE-literal, or dropped hints). A name cap only ever applies to
# relation-sourced columns / generator-frontier struct fields with no
# visible definition — a visible definition always wins (_attr_cap).
# Entity-grain names (custkey, doc_id, node, token, …) are
# deliberately absent: an unknown name only certifies if its defining
# expression can be chased to a bounded form.
_BOUNDED_KEY_EXACT = frozenset(
    {
        "n_name",  # TPC-H: 25 nation names at every SF
        "source",  # documents.source: generator-fixed 20-label set
        "variant",  # events.props['variant']: generator-fixed A/B arms
        "cls",  # embeddings.label-derived class labels (fixture enum)
        "label",  # embeddings.label: generator-fixed label set
        "pos",  # posexplode ordinal over fixture-width vectors (<= dims)
        "dd",  # day-digit / dense-dim indexes (sketch bucket fixtures)
        "dim_i",  # embedding dimension index (<= vector width)
        "dim_j",  # embedding dimension index (<= vector width)
    }
)
_BOUNDED_KEY_SUFFIXES = (
    "type",  # event_type / prev_type / p_type — enum domains
    "priority",  # o_orderpriority: 5 values (TPC-H spec)
    "segment",  # c_mktsegment: 5 values (TPC-H spec)
    "returnflag",  # l_returnflag: 3 values (TPC-H spec)
    "brand",  # p_brand: 25 values (TPC-H spec)
)

# Calendar-grain functions: grouping by a day/month/year collapses the
# corpus to the time spine — it grows with elapsed TIME, not with data
# volume (a 100 TB/day firehose still yields 365 day-rows a year).
_CALENDAR_FN_RE = re.compile(
    r"^(?:to_date|date_trunc|trunc|year|quarter|month|weekofyear|"
    r"dayofweek|dayofmonth|day|hour|minute|date_format|window|"
    r"datediff|date_diff|unix_date)\("
)
_CAST_DATE_RE = re.compile(r"^cast\((.+) as date\)$")
_PMOD_RE = re.compile(r"^(?:pmod|abs)\(")


_REMAINDER_RE = re.compile(r"^\(.+ % (-?\d+)\)$")

# A fixed-length substring of a HEX-producing function's output takes
# at most 16^len values — a fact of the function (md5/sha emit hex),
# independent of the data. This is the global_rank_bucketed bucketing
# idiom: substring(md5(key), 1, p) is a data-independent 16^p-way
# split.
# Fixed-width digests ONLY (round-11 ADVICE): for variable-length hex
# producers (hex(...) of arbitrary input) or start positions past the
# digest end, the image also contains shorter strings and can exceed
# 16^len — so the rule is restricted to md5/sha1/sha2 with a POSITIVE
# literal start, and the code gate below additionally requires the
# slice to fit inside the shortest digest (md5 = 32 hex chars), where
# 16^len is exact.
_HEX_SUBSTR_RE = re.compile(
    r"^substring\((?:md5|sha1|sha2)\(.+\), (\d+), (\d+)\)$"
)


def _literal_modulus(expr: str) -> int | None:
    """Image cap of ``pmod(<anything>, N)`` (non-negative: N values) or
    ``(<anything> % N)`` (the ``%`` remainder takes the DIVIDEND's
    sign in both engines, so a signed dividend yields 2N-1 values —
    round-11 self-probe: returning N understated in the unsound
    direction)."""
    if expr.startswith("pmod("):
        args = _split_top_commas(expr[len("pmod(") : -1])
        if len(args) == 2 and re.fullmatch(r"-?\d+", args[1]):
            return abs(int(args[1]))
        return None
    m = _REMAINDER_RE.match(expr)
    if m:
        return 2 * abs(int(m.group(1))) - 1
    return None


# Columns whose VALUE DOMAIN the data model fixes independently of row
# count: TPC-H money/quantity/size attributes are generated on closed
# 2-decimal intervals (l_quantity 1..50, c_acctbal -999.99..9999.99, ...)
# and documents.n_chars is capped by the generator's max doc length.
# Grouping by any deterministic function of such columns yields at most
# |domain| rows at ANY corpus size -- the image of a bounded domain is
# bounded -- which is what makes value-histogram / distinct-level tables
# (kruskal-wallis midranks, price-bucket quantiles) broadcast-safe at
# 100 TB.
#
# "Bounded" alone is NOT "broadcast-safe", though: boolean AND over
# grouping keys would certify bounded x bounded COMPOSITES whose caps
# MULTIPLY (nation x acctbal levels = 25 x 1.1M = 27.5M rows, an
# OOM-class forced broadcast that never shows at bench scale). Every
# bounded class therefore carries a numeric cardinality CAP, and an
# Aggregate certifies only when the PRODUCT of its grouping-key caps
# stays under AGG_CARD_CAP (~20M rows x ~20B of key ~ 400 MB: the outer
# edge of a safe executor broadcast or single-task window sort).
_VALUE_DOMAIN_CAPS = {
    "l_quantity": 50,
    "l_discount": 11,
    "l_tax": 9,
    "p_size": 50,
    "ps_availqty": 10_000,
    "n_chars": 65_536,
    "ps_supplycost": 100_001,
    "c_acctbal": 1_100_000,  # -999.99 .. 9999.99 at 2 decimals
    "s_acctbal": 1_100_000,
    "p_retailprice": 2_200_000,
    "l_extendedprice": 8_000_000,  # quantity x retailprice image
    "o_totalprice": 60_000_000,  # sum of up to 7 charged lineitems --
    # above AGG_CARD_CAP by itself: a raw totalprice level table is
    # bounded but NOT broadcastable; only contracted images (literal
    # buckets) certify.
}
_VALUE_DOMAIN_COLS = frozenset(_VALUE_DOMAIN_CAPS)

AGG_CARD_CAP = 20_000_000
_CALENDAR_CAP = 4_096  # day grain over the fixtures' ~7-year history
_ENUM_CAP = 4_096  # enum/label/bucket vocabularies (generous)

_ATTR_TOKEN_RE = re.compile(r"(\w+)#\d+")


def _col_cap(name: str) -> int | None:
    """Cardinality cap the data model fixes for this column NAME, or
    None when the name alone proves nothing (entity-grain or unknown:
    the caller must chase the defining expression)."""
    name = name.lower()
    if name.endswith("regionkey"):
        return 5
    if name.endswith("nationkey"):
        return 25
    if _calendar_col(name):
        return _CALENDAR_CAP
    if name in _BOUNDED_KEY_EXACT or name.endswith(_BOUNDED_KEY_SUFFIXES):
        return _ENUM_CAP
    return _VALUE_DOMAIN_CAPS.get(name)


def _find_def(
    attr: str, subtree: list[tuple[int, str]]
) -> tuple[str, int] | None:
    """Find ``<expr> AS attr`` in any Project/Aggregate/Window list
    below; returns (defining expression, subtree index of the node)."""
    needle = f" AS {attr}"
    for i, (_, text) in enumerate(subtree):
        if needle not in text or not text.startswith(
            ("Project", "Aggregate", "Window")
        ):
            continue
        for group in _top_level_groups(text):
            for item in _split_top_commas(group):
                if item.endswith(needle.strip()) and " AS " in item:
                    return item.rsplit(" AS ", 1)[0].strip(), i
    return None


def _is_global_aggregate(node_text: str) -> bool:
    """``Aggregate [aggExprs]`` (one bracket group) -- exactly one row."""
    return node_text.startswith("Aggregate") and len(
        _top_level_groups(node_text)
    ) == 1


def _expr_cap(
    expr: str, subtree: list[tuple[int, str]], depth: int = 0
) -> int | None:
    """Cardinality CAP of this expression's image, or None (unbounded).

    A literal-modulus bucket caps its image outright; a calendar
    function caps at the day spine; otherwise a deterministic
    function's image is no larger than its domain, so the cap is the
    PRODUCT of the referenced attributes' caps — the multiplication is
    what boolean bounding got wrong (bounded x bounded composites like
    nation x acctbal multiply to 27.5M rows, far past broadcast-safe)."""
    if depth > 6:  # alias chains deeper than this are not decidable
        return None
    expr = expr.strip()
    mod = _literal_modulus(expr)
    if mod is not None:
        return mod if mod <= RANGE_CAP else None
    if _CALENDAR_FN_RE.match(expr) or _CAST_DATE_RE.match(expr):
        # date DIFFERENCES are signed: their image spans +-spine, twice
        # the single-date calendar cap (round-11 self-probe)
        if expr.startswith(("datediff(", "date_diff(")):
            return 2 * _CALENDAR_CAP
        return _CALENDAR_CAP
    hx = _HEX_SUBSTR_RE.match(expr)
    if hx:
        start, width = int(hx.group(1)), int(hx.group(2))
        # exact only when the slice sits fully inside the SHORTEST
        # fixed-width digest (md5 = 32 hex chars); otherwise shorter
        # strings join the image and 16^len undercounts (round-11
        # ADVICE). +1: md5/sha of a NULL input is NULL, so a nullable
        # input adds NULL to the image — same NULL-edge accounting as
        # CASE-without-ELSE and lag/lead (round-12 ADVICE).
        if start >= 1 and start + width - 1 <= 32:
            hex_cap = 16**width + 1
            return hex_cap if hex_cap <= RANGE_CAP else None
        # out-of-digest slices fall through to the (sound) image-of-
        # domain product rule below
    case = _case_literal_cap(expr)
    if case is not None:
        return case
    fm = _FIELD_ACCESS_RE.match(expr)
    if fm and _find_def(fm.group(1), subtree) is None:
        # struct-field access whose base is a GENERATOR output (explode
        # of in-row struct arrays — the covariance/gram idiom): the
        # generator frontier has no chasable definition, so the field
        # NAME is the only evidence, exactly like a relation-sourced
        # column. `c#104.dim_i` certifies via _col_cap("dim_i").
        return _col_cap(fm.group(2))
    attrs = set(re.findall(r"\w+#\d+[A-Za-z]*", expr))
    if not attrs:
        return 1  # pure literal expression
    cap = 1
    for attr in attrs:
        c = _attr_cap(attr, subtree, depth)
        if c is None:
            return None
        cap *= c
    return cap


def _case_literal_cap(expr: str) -> int | None:
    """For ``CASE WHEN .. THEN v .. ELSE v END`` whose branch VALUES
    are all literals (no attribute references, no nested CASE), the
    image is the branch-value count — the honest label-column shape
    (``CASE WHEN n_chars > 100 THEN long ELSE short END AS label``).
    Conditions may reference anything: they pick a branch, they do not
    enlarge the image. Returns None for any other shape."""
    if not (expr.startswith("CASE WHEN ") and expr.endswith(" END")):
        return None
    body = expr[len("CASE") : -len("END")]
    depth = 0  # parens only: <> are comparison operators inside conditions
    nested = 0  # nested CASE..END spans hide their own keywords
    marks: list[tuple[str, int]] = []  # (keyword, segment start)
    i = 0
    while i < len(body):
        ch = body[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == " " and depth == 0:
            if body.startswith(" CASE ", i):
                nested += 1
                i += 6
                continue
            if nested > 0 and body.startswith(" END", i):
                nested -= 1
                i += 4
                continue
            if nested == 0:
                for kw in (" WHEN ", " THEN ", " ELSE "):
                    if body.startswith(kw, i):
                        marks.append((kw.strip(), i + 6))
                        i += 6
                        break
                else:
                    i += 1
                continue
        i += 1
    vals = []
    for k, (kw, s) in enumerate(marks):
        e = marks[k + 1][1] - 6 if k + 1 < len(marks) else len(body)
        if kw in ("THEN", "ELSE"):
            vals.append(body[s:e])
    if not vals or any("#" in v or "CASE" in v for v in vals):
        return None
    # a CASE with no ELSE yields NULL for unmatched rows — one more
    # image value than the literal branches (round-11 self-probe: the
    # undercount was in the unsound direction)
    has_else = any(kw == "ELSE" for kw, _ in marks)
    return len(vals) + (0 if has_else else 1)


# Aggregate functions whose image GROWS with group size: a per-group
# count/sum/avg takes as many distinct values as there are distinct
# group sizes/totals — image-of-domain reasoning does not apply to
# them (count(1) has no attrs and must NOT read as "pure literal").
_GROWING_AGG_RE = re.compile(
    r"\b(?:count\w*|sum|try_sum|try_avg|avg|mean|median|product|"
    r"stddev\w*|std|variance|"
    r"var_\w+|skewness|kurtosis|corr|covar\w*|collect_list|collect_set|"
    r"array_agg|listagg|string_agg|approx_\w+|percentile\w*|"
    r"hll_\w+|bit_\w+|bool_and|bool_or|every|some|any|regr_\w+|"
    r"grouping\w*)\(",
    re.IGNORECASE,
)
# Aggregates that PASS one input row's value through: their image is a
# subset of the argument's domain.
_VALUE_PASSING_AGG_RE = re.compile(
    r"^(?:min|max|first|last|any_value|mode)\((.*)\)$"
)
_VALUE_PASSING_CALL_RE = re.compile(
    r"\b(?:min|max|first|last|any_value|mode)\("
)
# Row-wise scalar heads PERMITTED inside an aggregate-output composite
# (an expression combining value-passing aggregates, grouping keys and
# literals, e.g. shapley's ``max(CASE..)+2*max(CASE..)+4*max(CASE..)``
# bitmask). Allowlist polarity: any call head NOT listed here — a
# growing aggregate, an aggregate the growing regex misses
# (bitmap_construct_agg, histogram_numeric), a future UDAF — makes the
# composite un-cappable. Deterministic row-wise functions only: image
# of a composite is then bounded by the PRODUCT of its parts' images.
_SCALAR_HEADS = frozenset(
    """cast coalesce nvl nanvl ifnull nullif isnull isnotnull if abs
    round bround rint floor ceil ceiling greatest least pmod concat
    substring substr substring_index left right lpad rpad trim ltrim
    rtrim btrim upper lower ucase lcase initcap reverse repeat replace
    translate split split_part elt locate instr position overlay
    length char_length character_length octet_length bit_length ascii
    chr format_number format_string printf levenshtein soundex
    datediff date_diff year month day dayofmonth hour minute second
    quarter dayofweek dayofyear weekofyear weekday date_trunc trunc
    date_add date_sub add_months months_between last_day next_day
    make_date make_dt_interval to_date to_timestamp unix_timestamp
    to_unix_timestamp from_unixtime timestamp_seconds unix_date
    date_part date_format extract shiftleft shiftright shiftrightunsigned
    named_struct struct exp expm1 ln log log2 log10 log1p sqrt cbrt
    pow power sin cos tan asin acos atan atan2 sinh cosh tanh degrees
    radians signum sign factorial bin hex unhex conv base64 unbase64
    md5 sha sha1 sha2 crc32 xxhash64 hash murmur3hash
    knownfloatingpointnormalized normalizenanandzero""".split()
)


def _balanced(s: str) -> bool:
    """Paren-balance check for regex-captured argument text: the greedy
    ``(.*)`` in ``^max\\((.*)\\)$`` happily captures ``a) + count(b``
    out of ``max(a) + count(b)`` — running depth must never dip
    negative and must end at zero, else the capture spans MORE than one
    call's arguments and value-passing reasoning does not apply
    (round-12 self-probe: ``max(a) + histogram_numeric(b, 3)`` would
    otherwise certify at product-of-domains through the top-level
    value-passing branch).

    Backslash-ESCAPED parens don't count (round-13 probe of the
    round-12 queue note): Catalyst prints string/regex literals BARE,
    so ``regexp_extract(text#1, \\((\\d+), 1)`` carries ``\\(`` — a
    character of the pattern, not call structure. Skipping them keeps
    real regex-bearing aggregates certifiable; a literal containing an
    UNESCAPED paren (``[(]`` in a character class) still reads
    unbalanced and falls to the conservative composite path — the
    sound direction."""
    d = 0
    prev = ""
    for ch in s:
        if prev == "\\":
            prev = ""  # escaped char: not structural (incl. \( and \))
            continue
        if ch == "(":
            d += 1
        elif ch == ")":
            d -= 1
            if d < 0:
                return False
        prev = ch
    return d == 0


def _strip_value_passing_calls(
    defn: str, subtree: list[tuple[int, str]], depth: int
) -> tuple[str, int] | None:
    """Replace every value-passing aggregate CALL in ``defn`` with a
    placeholder and return (residual_text, product_of_their_caps), or
    None when any call's argument image is uncappable (or hides a
    growing aggregate)."""
    product = 1
    while True:
        m = _VALUE_PASSING_CALL_RE.search(defn)
        if m is None:
            return defn, product
        # balanced-paren extraction of the call body
        i, d = m.end(), 1
        while i < len(defn) and d:
            if defn[i] == "(":
                d += 1
            elif defn[i] == ")":
                d -= 1
            i += 1
        if d:
            return None  # unbalanced: not decidable
        args = _split_top_commas(defn[m.end() : i - 1])
        if not args or _GROWING_AGG_RE.search(args[0]):
            return None
        cap = _expr_cap(args[0], subtree, depth)
        if cap is None:
            return None
        product *= cap
        defn = defn[: m.start()] + " __vp__ " + defn[i:]


def _agg_image_cap(
    defn: str, node: str, subtree: list[tuple[int, str]], depth: int
) -> int | None:
    """Image cap of an Aggregate OUTPUT expression, or None.

    Image-of-domain reasoning is only sound for expressions that are
    row-wise in their inputs — which, inside an Aggregate's output
    list, means exactly the GROUPING-KEY expressions — or that pass a
    single row's value through (min/max/first/last). ``count(*)`` /
    ``sum(x)`` / ``collect_*`` images grow with GROUP SIZE — for those
    only the grain cap applies (the round-10 advice finding:
    ``_expr_cap('count(1)')`` read as a pure literal and certified a
    per-user count as bounded).

    ALLOWLIST polarity (round-11 ADVICE): any output expression that is
    neither a grouping key of ``node`` nor a value-passing aggregate is
    treated as an aggregate whose image grows with group size — None —
    rather than falling through to image-of-domain. A blocklist regex
    can't enumerate every growing aggregate (``bitmap_construct_agg``
    escapes ``bit_\\w+``; ``histogram_numeric`` and future UDAFs match
    nothing), and an escape certifies at argument-domain cap in the
    UNSOUND direction."""
    defn = defn.strip()
    # an outermost head that bounds the image BY ITSELF (calendar
    # extractor, datediff, literal modulus) is sound whatever sits
    # inside — aggregate or not (logrank's datediff(max(ts), min(ts))
    # is day-spine-bounded regardless of the maxes)
    if (
        _CALENDAR_FN_RE.match(defn)
        or _CAST_DATE_RE.match(defn)
        or _literal_modulus(defn) is not None
    ):
        return _expr_cap(defn, subtree, depth)
    m = _VALUE_PASSING_AGG_RE.match(defn)
    if m and _balanced(m.group(1)):
        args = _split_top_commas(m.group(1))
        if not args or _GROWING_AGG_RE.search(args[0]):
            return None
        # the ARGUMENT of a value-passing aggregate is row-wise, so
        # image-of-domain reasoning applies to it directly
        return _expr_cap(args[0], subtree, depth)
    groups = _top_level_groups(node)
    keys = (
        {k.strip() for k in _split_top_commas(groups[0])}
        if len(groups) == 2
        else set()
    )
    if defn in keys:
        return _expr_cap(defn, subtree, depth)
    # Composite shapes: strip each recognized value-passing aggregate
    # CALL, then require every remaining call head to be a known
    # row-wise scalar — any other head (growing agg, an aggregate the
    # regexes miss, a future UDAF) keeps the None default. What remains
    # is row-wise (over grouping keys and the stripped calls' values):
    # a Project the optimizer collapsed into the Aggregate output
    # (logrank's arm CASE over md5(user_id)) or an arithmetic composite
    # of value-passing aggregates (shapley's bitmask sum). Its image is
    # bounded by _expr_cap of the residual times the product of the
    # stripped calls' images.
    stripped = _strip_value_passing_calls(defn, subtree, depth)
    if stripped is None:
        return None
    resid, vp_cap = stripped
    heads = {h.lower() for h in re.findall(r"(\w+)\(", resid)}
    if not heads <= _SCALAR_HEADS:
        return None
    base = _expr_cap(resid, subtree, depth)
    return None if base is None else base * vp_cap


# Window functions whose output image is bounded by the FUNCTION, not
# by its spec columns: ntile(n) takes n values; first/last/min/max
# pass an input row's value through (image within the argument's
# domain); lag/lead/nth_value pass a value through PLUS their default/
# NULL edge value. Everything else — row_number/rank/dense_rank/
# percent_rank/cume_dist and windowed count/sum/avg/collect — takes as
# many values as the PARTITION SIZE and must not inherit a cap from
# the columns its spec happens to order by (round-10 verdict corner:
# ``row_number() OVER (ORDER BY l_quantity)`` is not bounded by 50).
_NTILE_RE = re.compile(r"^ntile\((\d+)\)")
_WIN_VALUE_PASSING_RE = re.compile(
    r"^(?:first|last|first_value|last_value|min|max|any_value)\((.*)\)$"
)
# lag/lead inject their DEFAULT argument (NULL when absent) into the
# image at partition edges, and nth_value yields NULL when the
# partition is shorter than the offset — the plain value-passing cap
# undercounts them (round-11 ADVICE).
_WIN_OFFSET_FN_RE = re.compile(r"^(lag|lead|nth_value)\((.*)\)$")


def _window_image_cap(
    defn: str, subtree: list[tuple[int, str]], depth: int
) -> int | None:
    """Image cap of a Window OUTPUT expression, or None."""
    fn_part = defn.split(" windowspecdefinition", 1)[0].strip()
    m = _NTILE_RE.match(fn_part)
    if m:
        return int(m.group(1))
    m = _WIN_OFFSET_FN_RE.match(fn_part)
    if m and _balanced(m.group(2)):
        fn, args = m.group(1), _split_top_commas(m.group(2))
        if not args or _GROWING_AGG_RE.search(args[0]):
            return None
        base = _expr_cap(args[0], subtree, depth)
        if base is None:
            return None
        if fn == "nth_value":
            # nth_value(x, n[, ignoreNulls]): NULL joins the image for
            # partitions shorter than n
            return base + 1
        # lag/lead print as lag(x, off, default); the default joins
        # the image at partition edges: +1 for NULL or any literal,
        # the default's own domain cap for an attribute (None if that
        # is uncapped)
        default = args[2].strip() if len(args) >= 3 else "null"
        if "#" in default:
            dcap = _expr_cap(default, subtree, depth)
            return None if dcap is None else base + dcap
        return base + 1
    m = _WIN_VALUE_PASSING_RE.match(fn_part)
    if m and _balanced(m.group(1)):
        args = _split_top_commas(m.group(1))
        if not args or _GROWING_AGG_RE.search(args[0]):
            return None
        return _expr_cap(args[0], subtree, depth)
    if (
        _CALENDAR_FN_RE.match(fn_part)
        or _CAST_DATE_RE.match(fn_part)
        or _literal_modulus(fn_part) is not None
    ):
        return _expr_cap(fn_part, subtree, depth)
    return None


def _attr_cap(
    attr: str, subtree: list[tuple[int, str]], depth: int
) -> int | None:
    """Cardinality cap of one attribute reference, or None.

    A visible definition is a PROOF and takes precedence over the
    name-based model cap (round-10 advice: a ``pmod(x, 1000000)``
    aliased ``price_bucket`` must cap at its provable 1e6 image, not
    the trusting name-suffix 4096 — and, conversely, a corpus-grain
    expression aliased ``label`` must not certify by name). The name
    cap applies only to relation-sourced columns with no definition in
    the plan — where the fixture data model itself is the evidence."""
    name = attr.split("#", 1)[0]
    found = _find_def(attr, subtree)
    if found is None:
        return _col_cap(name)
    defn, i = found
    node = subtree[i][1]
    # a scalar plucked off a GLOBAL aggregate (count/sum/median of the
    # whole input, cross-joined back in) is a single value -- grouping
    # by it collapses to one row per such scalar
    if _is_global_aggregate(node):
        return 1
    sub = _subtree(subtree, i)
    if node.startswith("Aggregate"):
        # a column an Aggregate produces takes at most one distinct
        # value per group (its defining aggregate's GRAIN -- huber's
        # carried IRLS scalars chase to 1 this way, each step grouping
        # by the previous step's scalars) AND no more values than its
        # expression's image where image reasoning is sound (logrank's
        # per-user datediff span is calendar-capped even though the
        # user grain is unbounded; a per-user count/sum is NOT):
        # take the tighter of the two.
        grain = _agg_keys_cap(node, sub, depth + 1)
        image = _agg_image_cap(defn, node, sub, depth + 1)
        caps = [c for c in (grain, image) if c is not None]
        return min(caps) if caps else None
    if node.startswith("Window"):
        return _window_image_cap(defn, sub, depth + 1)
    return _expr_cap(defn, sub, depth + 1)


def _agg_keys_cap(
    text: str, subtree: list[tuple[int, str]], depth: int = 0
) -> int | None:
    """Cap of an Aggregate node's output cardinality, or None."""
    groups = _top_level_groups(text)
    if len(groups) <= 1:
        return 1  # global aggregate: one row
    if len(groups) != 2:
        return None  # unparseable: conservative
    keys = _split_top_commas(groups[0])
    if not keys:
        return 1  # empty grouping list: global aggregate
    cap = 1
    for k in keys:
        c = _expr_cap(k, subtree, depth)
        if c is None:
            return None
        cap *= c
    return cap


def _aggregate_bounds(text: str, subtree: list[tuple[int, str]]) -> bool:
    """Does this Aggregate node cap the cardinality flowing through it?

    ``Aggregate [aggExprs]`` (one bracket group) is a GLOBAL aggregate —
    exactly one output row; so is a bare ``Aggregate`` (zero groups:
    column pruning emptied BOTH lists, which only happens when there
    are no grouping keys — a grouped aggregate always prints its key
    list). ``Aggregate [keys], [exprs]`` bounds only when the PRODUCT
    of its grouping-key caps stays under AGG_CARD_CAP."""
    cap = _agg_keys_cap(text, subtree)
    return cap is not None and cap <= AGG_CARD_CAP


def _node_bounds(nodes: list[tuple[int, str]], idx: int) -> bool:
    """Does this single node cap the cardinality flowing up through it?"""
    text = nodes[idx][1]
    if text.startswith("Aggregate"):
        return _aggregate_bounds(text, _subtree(nodes, idx))
    if text.startswith(("GlobalLimit", "LocalLimit")):
        # a Limit bounds only by its literal count -- limit(50_000_000)
        # is "bounded" in the boolean sense but past broadcast-safe
        m = re.match(r"^(?:Global|Local)Limit (\d+)", text)
        return m is not None and int(m.group(1)) <= AGG_CARD_CAP
    if text.startswith(("LocalRelation", "OneRowRelation")):
        return True
    if text.startswith(_CONSTANT_DIM_LEAVES):
        return True
    m = _RANGE_RE.match(text)
    if m:
        lo, hi, step = (int(g) for g in m.groups())
        return step != 0 and abs((hi - lo) // step) <= RANGE_CAP
    return False


# Selective key-probe filters: equality to a LITERAL, or a range cap
# `key < N` / `key <= N` with a small literal N (dense-id probe sets
# like `vec_id < 8` — the fixed query batch of the ANN suite). Only
# keys whose PER-KEY MULTIPLICITY the data model itself bounds count
# (round-10 verdict corner #2): a literal probe certifies a bounded
# row SET only when one key value selects a bounded number of rows at
# ANY corpus size. Table primary keys qualify (one row each), and so
# do the TPC-H foreign keys, whose fan-out the spec fixes per key
# (~10 orders and ~70 lineitems per custkey, <=7 lineitems per
# orderkey, 4 partsupp + ~30 lineitems per partkey, ~80 partsupp +
# ~600 lineitems per suppkey — entity counts scale WITH the corpus,
# so per-entity row counts stay constant). Open-ended fact-table
# entity ids do NOT qualify: `events.user_id = 42` selects one user's
# whole history, which grows with corpus TIME, not a probe row — and
# neither does an equality on a category column (`p_brand = 'X'`, a
# linear corpus fraction). The right-hand side must be a literal —
# `#` marks an attribute reference, and column-to-column equality
# selects a corpus fraction.
_PROBE_KEY_SUFFIXES = ("orderkey", "custkey", "partkey", "suppkey")
_PROBE_KEY_EXACT = frozenset({"vec_id", "doc_id", "event_id"})
_EQ_FILTER_RE = re.compile(r"^Filter .*?\((\w+#\d+L?) = [^)=<>#]+\)")
_RANGE_FILTER_RE = re.compile(r"^Filter .*?\((\w+#\d+L?) <=? (\d+)\)")


def _probe_key_ok(name: str) -> bool:
    name = name.lower()
    return name in _PROBE_KEY_EXACT or name.endswith(_PROBE_KEY_SUFFIXES)


def _probe_filter(text: str) -> str | None:
    """The probed attribute token (``vec_id#12L``) when this Filter is
    a certifiable key probe, else None.

    A probe certifies only as a plain CONJUNCT: under NOT the match
    is the COMPLEMENT (everything but one row), and inside an OR it
    is one disjunct of a union that can be corpus-sized (round-11
    self-probe: `NOT (doc_id = 3)` certified before this guard, and
    `(doc_id = 3) OR (lang = 'en')` certified when the probe leg
    happened to print first). Rejecting any NOT/OR in the node text
    is conservative — every registered probe is a plain conjunction."""
    if " OR " in text or "NOT " in text:
        return None
    m = _EQ_FILTER_RE.match(text)
    if m and _probe_key_ok(m.group(1).split("#", 1)[0]):
        return m.group(1)
    m = _RANGE_FILTER_RE.match(text)
    if (
        m
        and _probe_key_ok(m.group(1).split("#", 1)[0])
        and int(m.group(2)) <= PROBE_CAP
    ):
        return m.group(1)
    return None


def _bounded(nodes: list[tuple[int, str]], idx: int) -> bool:
    """True iff every leaf under ``idx`` sits below a bounding node.

    Walks top-down: a bounding node certifies its whole subtree; a
    probe filter (key equality to a literal, or a small dense-id range
    cap) over a plain leaf pipeline certifies its subtree; otherwise
    recurse into children, and a childless non-bounding leaf (a raw
    Relation or a checkpointed LogicalRDD) fails."""
    if _node_bounds(nodes, idx):
        return True
    kids = _children(nodes, idx)
    # The probe's bounded-multiplicity argument holds only over a plain
    # BASE-RELATION pipeline, where the filtered column is the table's
    # own key. A LogicalRDD leaf (checkpointed segment) is excluded
    # (round-11 self-probe): a pinned equi-join fan-out can carry
    # corpus-scale rows per key under the same column name, and the
    # checkpoint-time audit cannot see a later probe's assumption.
    probe_attr = _probe_filter(nodes[idx][1])
    if probe_attr is not None:
        sub = _subtree(nodes, idx)
        # The probed NAME is evidence only when it is the relation's
        # own column: a Project that RENAMES another column to a
        # probe-key name (and blocks predicate pushdown, e.g. via a
        # nondeterministic sibling expression) would otherwise smuggle
        # an open-ended key past the model (round-12 self-probe). A
        # relation-sourced column has no in-plan definition.
        if _find_def(probe_attr, sub) is None and all(
            t.startswith(("Relation", "Project", "Filter"))
            for _, t in sub[1:]
        ):
            return True
    if not kids:
        return False
    return all(_bounded(nodes, k) for k in kids)


def unbounded_hinted_broadcasts(plan: str) -> list[str]:
    """Node texts of hint-forced broadcast build sides whose subtree is
    NOT bounded by construction (empty list == plan is governed)."""
    nodes = parse_plan(plan)
    bad = []
    for i, (_, text) in enumerate(nodes):
        if not text.startswith("Join "):
            continue
        kids = _children(nodes, i)
        if len(kids) != 2:
            continue
        for hint, kid in (("leftHint", kids[0]), ("rightHint", kids[1])):
            if f"{hint}=(strategy=broadcast" in text and not _bounded(
                nodes, kid
            ):
                bad.append(nodes[kid][1][:120])
    return bad


# Hint clauses on a Join node, e.g. ", rightHint=(strategy=broadcast)".
_JOIN_HINT_RE = re.compile(r", (?:left|right)Hint=\([^)]*\)")

# Leading join-type token of a Join node: a word, optionally with a
# balanced paren suffix (``ExistenceJoin(exists#1)``) — round-12
# self-probe queued this vs the old ``Join \w+`` fullmatch.
_JOIN_TYPE_RE = re.compile(r"([A-Za-z]+)(\([^)]*\))?")

# An attribute reference as printed in optimized plans: name#id[type].
_ATTR_REF_RE = re.compile(r"\w+#\d+")


def _strip_outer_parens(s: str) -> str:
    """Remove parens that wrap the WHOLE expression (repeatedly)."""
    s = s.strip()
    while s.startswith("(") and s.endswith(")"):
        depth = 0
        for i, ch in enumerate(s):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0 and i < len(s) - 1:
                    return s  # first group closes early: not a wrapper
        s = s[1:-1].strip()
    return s


def _split_top_level(s: str, sep: str) -> list[str]:
    """Split on ``sep`` occurrences at paren depth 0."""
    parts, depth, start, i = [], 0, 0, 0
    while i < len(s):
        ch = s[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and s.startswith(sep, i):
            parts.append(s[start:i])
            i += len(sep)
            start = i
            continue
        i += 1
    parts.append(s[start:])
    return [p for p in (p.strip() for p in parts) if p]


def _and_conjuncts(cond: str) -> list[str]:
    """Flatten a condition into its top-level AND conjuncts, seeing
    through wrapping parens (``((a AND b) AND c)`` -> [a, b, c])."""
    cond = _strip_outer_parens(cond)
    parts = _split_top_level(cond, " AND ")
    if len(parts) == 1:
        return parts
    out: list[str] = []
    for p in parts:
        out.extend(_and_conjuncts(p))
    return out


def _attr_ids(text: str) -> set[str]:
    """Expression-id numbers referenced in ``text`` (``rn#25921`` →
    ``25921``). Ids are allocated uniquely per plan-tree occurrence
    (DeduplicateRelations re-ids self-join reuse — probe-verified), so
    they attribute an expression to the child subtree that defines
    it — the one piece of structure bare condition text lacks.

    Known echo: a dynamic-partition-pruning Filter inside one child
    prints the OTHER child's pruning key (``... IN (dynamicpruning#N
    [p_partkey#M])``), so M leaks into the wrong side's id set. The
    hashability test tries BOTH orientations, so genuine cross-side
    keys still certify; a mixed-side key could in principle exploit
    the echo to certify both orientations, but that requires a DPP
    filter referencing exactly the mixed attrs — the physical
    nested-loop cross-check gate is the empirical backstop."""
    return set(re.findall(r"#(\d+)", text))


def _is_hashable_equi_conjunct(
    conj: str,
    left_ids: set[str] | None = None,
    right_ids: set[str] | None = None,
) -> bool:
    """True iff this AND-conjunct is an equality Spark can extract as a
    hash-join key: a depth-0 ``=`` / ``<=>`` (not under NOT, not under
    an OR disjunct) with an attribute reference on BOTH sides — an
    equality against a literal (``b_flag#3 = true``, possible in join
    conditions when pushdown doesn't fire) is a filter, not a key, and
    the join still nested-loops.

    When the caller supplies the children's expression-id sets, each
    side must additionally resolve WHOLLY to one child and the two
    sides to DIFFERENT children (round-13 physical cross-check catch:
    ``rn = ((decile * n + 9) div 10)`` has attributes on both sides,
    but ``decile`` comes from the broadcast spine while ``n`` comes
    from the ranked stream — one side mixes children, no hash key
    exists, and Spark plans BroadcastNestedLoopJoin). Without child
    ids (bare-string mode, unit tests) the attribution check is
    skipped. Remaining residual (plan-text-inherent): Catalyst prints
    string literals BARE, so a literal whose TEXT contains an
    attr-shaped token (``s#1 = prefix a#2 suffix``) is
    indistinguishable from a real reference — adversarial-only, and
    the physical nested-loop cross-check gate would surface it."""
    conj = _strip_outer_parens(conj)
    if conj.startswith("NOT ") or conj.startswith("NOT("):
        return False
    if len(_split_top_level(conj, " OR ")) > 1:
        return False  # equality under a disjunction is not extractable
    for op in (" = ", " <=> "):
        sides = _split_top_level(conj, op)
        if len(sides) < 2:
            continue
        s0, s1 = _attr_ids(sides[0]), _attr_ids(sides[1])
        if not (s0 and s1):
            continue
        if left_ids is None or right_ids is None:
            return True
        if (s0 <= left_ids and s1 <= right_ids) or (
            s0 <= right_ids and s1 <= left_ids
        ):
            return True
    return False


def _has_equi_conjunct(
    cond: str,
    left_ids: set[str] | None = None,
    right_ids: set[str] | None = None,
) -> bool:
    return any(
        _is_hashable_equi_conjunct(c, left_ids, right_ids)
        for c in _and_conjuncts(cond)
    )


def unbounded_cross_joins(plan: str) -> list[str]:
    """Node texts of Cartesian-CLASS joins where NEITHER side's subtree
    is bounded by construction — the quadratic-blowup class (empty list
    == plan is governed).

    Three shapes are in the class (round-12 self-probe: the original
    rule matched only the first):
    - ``Join Cross`` — the explicit crossJoin;
    - a conditionless join of ANY type — ``a.join(b)`` with no ON, or
      a trivially-true condition the optimizer folded away, prints the
      join with NO condition and executes as the very same cartesian;
    - a join (any type) whose condition has NO hashable equi conjunct —
      it plans as a nested-loop scan of one whole side per row of the
      other. Round-13 tightening (round-12 verdict + ADVICE corners):
      the equality must be a top-level AND-conjunct — ``(a = b) OR
      (c < d)`` and ``NOT (a = b)`` are NOT extractable hash keys and
      nested-loop; the test applies to EVERY join type with a
      condition (a LeftOuter/LeftSemi pure theta is the same quadratic
      scan as an Inner one); and both sides of the ``=`` must carry an
      attribute reference (``b_flag = true`` inside an outer-join
      condition is a filter, not a key). Expression keys like
      ``least(b, c) = cu`` (edge_triangle_support) still certify.
      Known residual (physical-layer only): an equality whose two
      attribute sides both come from the SAME child — plan text alone
      cannot attribute columns to children.

    A cartesian-class join with one bounded side is a scan decorated
    with constants/aggregates (linear); with BOTH sides corpus-grain it
    is quadratic at 100 TB no matter how it executes. Same bounded-ness
    rules as the hinted-broadcast audit; queries bounded for reasons
    structural rules cannot see carry the ``bounded_cross`` tag."""
    nodes = parse_plan(plan)
    bad = []
    for i, text in cartesian_class_joins(plan):
        kids = _children(nodes, i)
        if len(kids) != 2:
            continue
        if not (_bounded(nodes, kids[0]) or _bounded(nodes, kids[1])):
            bad.append(text[:120])
    return bad


def cartesian_class_joins(plan: str) -> list[tuple[int, str]]:
    """(node index, text) of every Cartesian-CLASS Join node — the
    DETECTION half of ``unbounded_cross_joins``, before its
    boundedness exemption. Exposed separately so the physical-layer
    cross-check can ask "did the textual rule SEE this join at all?"
    independently of whether a bounded side excuses it."""
    nodes = parse_plan(plan)
    out = []
    for i, (_, text) in enumerate(nodes):
        if not text.startswith("Join "):
            continue
        stripped = _JOIN_HINT_RE.sub("", text).strip()
        tm = _JOIN_TYPE_RE.match(stripped[len("Join ") :])
        if tm is None:
            continue
        jtype = tm.group(1)
        tail = stripped[len("Join ") + tm.end() :]
        cond = tail[1:].strip() if tail.startswith(",") else ""
        # Attribute each equality side to a child subtree via expr ids
        # (unique per occurrence) — a side that mixes children has no
        # hash key and the join nested-loops regardless of the `=`.
        kids = _children(nodes, i)
        left_ids = right_ids = None
        if len(kids) == 2:
            left_ids = _attr_ids(
                " ".join(t for _, t in _subtree(nodes, kids[0]))
            )
            right_ids = _attr_ids(
                " ".join(t for _, t in _subtree(nodes, kids[1]))
            )
        if (
            jtype == "Cross"
            or not cond  # conditionless join, any type
            or not _has_equi_conjunct(cond, left_ids, right_ids)
        ):
            out.append((i, text))
    return out


def physical_nested_loop_joins(physical_plan: str) -> list[str]:
    """Operator lines where SPARK ITSELF chose a nested-loop strategy
    (``BroadcastNestedLoopJoin`` / ``CartesianProduct``) in the
    executed plan. This is ground truth for the cartesian class — the
    planner only nested-loops when it could extract no hash key — and
    it closes the two plan-TEXT residuals the logical rule documents
    (same-child attribute equality; a string literal whose text mimics
    an attr reference): the governance cross-check asserts every
    physical nested-loop join is matched by a textual
    ``cartesian_class_joins`` detection, so a textual false negative
    cannot pass silently."""
    hits = []
    for line in physical_plan.splitlines():
        s = line.strip().lstrip("+-*: ")
        if s.startswith("(") and ")" in s[:8]:
            s = s.split(") ", 1)[-1]  # codegen stage ids: "(3) Node"
        if s.startswith(("BroadcastNestedLoopJoin", "CartesianProduct")):
            hits.append(s[:120])
    return hits


def unpartitioned_ordered_windows(plan: str) -> list[str]:
    """Window operator lines of the form ``Window [exprs], [order]`` —
    i.e. ordered but unpartitioned (a single task sorts the world).
    Partitioned-unordered windows also print two bracket groups but
    their second group carries no ASC/DESC sort direction."""
    hits = []
    for line in plan.splitlines():
        s = line.strip().lstrip("+-: ")
        if not s.startswith("Window "):
            continue
        groups = _top_level_groups(s[len("Window ") :])
        if len(groups) == 2 and (
            " ASC" in groups[1] or " DESC" in groups[1]
        ):
            hits.append(groups[1][:80])
    return hits


def checkpoint_audited(
    df: DataFrame,
    eager: bool = True,
    *,
    reliable: bool = False,
    adjudicated: str | None = None,
) -> DataFrame:
    """Audit a plan segment, then pin it (``localCheckpoint`` or, with
    ``reliable=True``, a cluster-durable ``checkpoint``).

    A checkpoint cuts lineage: whatever ran inside the segment —
    hint-forced broadcasts, Cartesian joins, single-task windows — is
    invisible to every post-hoc plan audit, which sees only a
    ``LogicalRDD`` leaf (the round-9 blind spot: k_core executed six
    broadcast joins no audit could see). This helper is the mandated
    route for ALL checkpoints in query code (enforced by a source grep
    in ``tests/test_scale_patterns.py``): it runs the broadcast, cross-
    join, and window auditors on the segment's optimized plan *before*
    materializing, and raises if the segment is ungoverned.

    ``adjudicated`` skips the audit with a human-recorded reason, for
    segments bounded by construction in ways plan text cannot show —
    the call-site twin of the ``bounded_*`` query tags.
    """
    if adjudicated is None:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        problems = [
            f"{what}: {hit}"
            for what, hits in (
                ("hinted broadcast of unbounded subtree", unbounded_hinted_broadcasts(plan)),
                ("cross join with both sides unbounded", unbounded_cross_joins(plan)),
                ("unpartitioned ordered window", unpartitioned_ordered_windows(plan)),
            )
            for hit in hits
        ]
        if problems:
            raise RuntimeError(
                "checkpoint_audited: segment fails plan governance "
                "(pass adjudicated=<reason> only with a recorded "
                "justification):\n" + "\n".join(problems)
            )
    if reliable:
        return df.checkpoint()
    return df.localCheckpoint(eager=eager)
