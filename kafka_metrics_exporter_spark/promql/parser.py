"""PromQL-subset parser: tokenizer + recursive-descent AST builder.

Covers exactly the grammar the reference's Grafana dashboards use
(every `"expr"` in Prometheus/jmxexporter_configs/grafana/dashboards/
*.json — 49 expressions): metric selectors with label matchers
(`=`, `!=`, `=~`, `!~`), `rate(sel[dur])`, aggregations
`sum|avg|min|max|count` with `by (...)` / `without (...)` clauses
(clause before or after the parenthesized body), `topk(k, expr)` /
`bottomk(k, expr)`, vector arithmetic (`+ - * /`) between compatible
vectors or against scalar constants, comparison operators
(`> < >= <= == !=`) against scalars AND between vectors (filter
semantics, `bool` modifier, on/ignoring + group_left/group_right
matching), and unary `+`/`-` — plus, beyond the corpus, the counter
functions `irate`/`increase`, the range-window family
`sum|avg|min|max|count_over_time(sel[dur])`, and the selector `offset
<dur>` modifier (day-over-day comparisons).

Each node kind is a frozen dataclass subclassing :class:`Expr`.  Two
tables hold everything per kind and per name: :data:`FUNCTIONS` maps a
function name to its kind and its parse routine (``parse_factor`` is
one lookup in it), and ``compiler.KINDS`` maps a kind to its evaluation
and its renderer (one of the ``_render_*`` functions here, which
``to_promql`` looks up).  Adding a function of an existing kind is one
``FUNCTIONS`` row; a new kind adds its dataclass, parse routine and
renderer here and its ``KINDS`` row in compiler.py.
"""

from __future__ import annotations

import dataclasses
import math
import re
from collections.abc import Callable
from dataclasses import dataclass, field


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------
class Expr:
    """Base of the AST node kinds: each kind is a frozen dataclass
    subclassing this one, with one row in ``compiler.KINDS``."""


@dataclass(frozen=True)
class Matcher:
    label: str
    op: str  # '=', '!=', '=~', '!~'
    value: str


@dataclass(frozen=True)
class Selector(Expr):
    name: str | None
    matchers: tuple[Matcher, ...] = ()
    # `sel offset 1h`: evaluate the series shifted this many seconds
    # into the past (0 = no shift)
    offset_seconds: float = 0.0


@dataclass(frozen=True)
class Subquery(Expr):
    """``expr[range:step]`` — evaluate ``expr`` on an aligned ``step``
    grid; the resulting synthetic samples feed the enclosing
    range-vector function exactly like selector samples do.  The step
    must be explicit (Prometheus defaults it to the evaluation
    interval, which a relational engine has no ambient value for)."""

    expr: "Expr"
    range_seconds: float
    step_seconds: float


@dataclass(frozen=True)
class Rate(Expr):
    selector: "Selector | Subquery"
    window_seconds: float
    # 'rate'/'irate' (per-second), 'increase' (raw clamped delta), the
    # gauge pair 'delta'/'idelta' (raw UNclamped difference — no counter
    # reset handling), or the counting pair 'resets'/'changes' (number
    # of counter resets / value changes between successive samples in
    # the range)
    fn: str = "rate"


@dataclass(frozen=True)
class Deriv(Expr):
    """deriv(sel[w]) — least-squares slope of the samples in the range —
    or predict_linear(sel[w], t) — the regression line evaluated t
    seconds past the evaluation instant."""

    selector: "Selector | Subquery"
    window_seconds: float
    predict_seconds: float | None = None  # None → deriv


@dataclass(frozen=True)
class OverTime(Expr):
    op: str  # avg|max|min|sum|count|stddev|stdvar|last|quantile
    selector: "Selector | Subquery"
    window_seconds: float
    param: float | None = None  # quantile_over_time's φ


@dataclass(frozen=True)
class HoltWinters(Expr):
    """``holt_winters(sel[w], sf, tf)`` (Prometheus ≥3 name:
    ``double_exponential_smoothing``) — double exponential smoothing of
    the samples in the trailing range: level factor ``sf``, trend
    factor ``tf``, both in (0, 1); needs ≥2 samples in the window."""

    selector: "Selector | Subquery"
    window_seconds: float
    sf: float
    tf: float


@dataclass(frozen=True)
class Agg(Expr):
    op: str  # sum|avg|min|max|count|stddev|stdvar|quantile|count_values
    expr: "Expr"
    by: tuple[str, ...] | None = None
    without: tuple[str, ...] | None = None
    # quantile's φ parameter (None for the other ops)
    param: float | None = None
    # count_values' output label name (None for the other ops)
    value_label: str | None = None


@dataclass(frozen=True)
class Absent(Expr):
    """``absent(expr)``: 1 at every evaluation instant where the inner
    vector has no samples (the alerting staple)."""

    expr: "Expr"


@dataclass(frozen=True)
class TopK(Expr):
    k: int
    expr: "Expr"
    bottom: bool = False


@dataclass(frozen=True)
class LimitK(Expr):
    """``limitk(k, v)`` / ``limit_ratio(r, v)`` — the Prometheus 3.x
    experimental sampling aggregations.  ``limitk`` keeps (up to) k
    elements per instant; Prometheus's pick is arbitrary, this engine
    deterministically keeps the k FIRST series in label order (a valid
    limitk answer, and stable across runs).  ``limit_ratio`` keeps a
    deterministic label-hash sample: elements whose hash ∈ [0,1) falls
    below r (r ≥ 0), or the COMPLEMENT set for negative r — so
    ``limit_ratio(0.2, v)`` and ``limit_ratio(-0.8, v)`` partition the
    input exactly, Prometheus's documented pair-splitting property."""

    param: float
    expr: "Expr"
    ratio: bool = False


@dataclass(frozen=True)
class VectorMatch:
    """``on(...)`` / ``ignoring(...)`` with optional ``group_left(...)``
    / ``group_right(...)`` — PromQL's vector-matching modifier."""

    on: tuple[str, ...] | None = None  # mutually exclusive with ignoring
    ignoring: tuple[str, ...] | None = None
    group: str | None = None  # 'left' | 'right' | None (one-to-one)
    include: tuple[str, ...] = ()  # extra labels copied from the one side


@dataclass(frozen=True)
class Bin(Expr):
    op: str  # + - * /
    left: "Expr"
    right: "Expr"
    match: VectorMatch | None = None


@dataclass(frozen=True)
class SetOp(Expr):
    """``and`` / ``or`` / ``unless`` — instant-vector set operators
    (match on the full label set unless a VectorMatch narrows it)."""

    op: str  # and | or | unless
    left: "Expr"
    right: "Expr"
    match: VectorMatch | None = None


@dataclass(frozen=True)
class MathFn(Expr):
    fn: str  # abs|ceil|floor|exp|ln|log2|log10|sqrt|clamp_min|clamp_max|clamp
    expr: "Expr"
    arg: float | None = None  # clamp bound (clamp: the min bound)
    arg2: float | None = None  # clamp's max bound


@dataclass(frozen=True)
class Sort(Expr):
    """``sort(v)`` / ``sort_desc(v)`` — order the output elements by
    value (Prometheus's instant-query display ordering).  Relational
    result sets are unordered, so this compiles to an ORDER BY on the
    final frame: (ts, value, labels) — per-instant value order with a
    deterministic label tiebreak.

    ``sort_by_label(v, "l1", …)`` / ``sort_by_label_desc`` (Prometheus
    3.x experimental) set ``by_labels``: ordering is by those label
    STRINGS instead of the value, remaining labels as tiebreak."""

    expr: "Expr"
    desc: bool = False
    by_labels: tuple[str, ...] | None = None


@dataclass(frozen=True)
class At(Expr):
    """``expr @ t`` — pin the expression's value as of evaluation time
    ``t`` across the whole evaluation-instant universe.  The parser
    produces it for ``m @ t`` and for range calls like
    ``rate(m[5m] @ t)`` (wrapping the Rate node, so the inner
    expression is evaluated once and its as-of-t point broadcasts to
    every instant — Prometheus's fixed-evaluation-time semantics).
    ``at_seconds`` is an epoch-seconds float, or the string ``"start"``
    / ``"end"`` for ``@ start()`` / ``@ end()`` — the evaluation
    range's first/last instant (the grid bounds in range mode, the
    data's first/last sample instant in sample-instant mode)."""

    expr: "Expr"
    at_seconds: "float | str"


@dataclass(frozen=True)
class DateFn(Expr):
    """Prometheus date/time functions: ``timestamp(v)`` (each element's
    sample timestamp as its value) and the calendar family
    ``minute|hour|day_of_week|day_of_month|day_of_year|days_in_month|
    month|year``,
    which interpret the vector's VALUES as UTC epoch seconds; called
    with no argument they default to ``vector(time())`` (the common
    business-hours-alert idiom)."""

    fn: str
    expr: "Expr | None" = None  # None → vector(time()); timestamp() requires one


@dataclass(frozen=True)
class Scalarize(Expr):
    """``scalar(v)`` — the single-element vector's value as a scalar
    per evaluation instant; NaN at instants where the vector has zero
    or multiple elements (Prometheus scalar())."""

    expr: "Expr"


@dataclass(frozen=True)
class Vectorize(Expr):
    """``vector(s)`` — a scalar expression as a label-less instant
    vector over the evaluation-instant universe (the `or vector(0)`
    default idiom)."""

    expr: "Expr"


@dataclass(frozen=True)
class HistogramQuantile(Expr):
    phi: float
    expr: "Expr"


@dataclass(frozen=True)
class HistogramFn(Expr):
    """histogram_count / histogram_sum / histogram_avg over a
    native-histogram vector (Prometheus 3.x)."""

    fn: str
    expr: "Expr"


@dataclass(frozen=True)
class HistogramFraction(Expr):
    """histogram_fraction(lo, hi, v) over a native-histogram vector."""

    lo: float
    hi: float
    expr: "Expr"


@dataclass(frozen=True)
class LabelReplace(Expr):
    expr: "Expr"
    dst: str
    replacement: str
    src: str
    regex: str


@dataclass(frozen=True)
class LabelJoin(Expr):
    expr: "Expr"
    dst: str
    sep: str
    srcs: tuple[str, ...]


@dataclass(frozen=True)
class Info(Expr):
    """``info(v[, {data-label-selector}])`` — Prometheus 3.x
    (experimental): join the matching ``target_info`` series' DATA
    labels (everything but the identifying ``instance``/``job``) onto
    each sample of ``v``.  The optional selector both filters the info
    series and RESTRICTS the added labels to the ones it names."""

    expr: "Expr"
    matchers: tuple[Matcher, ...] = ()


@dataclass(frozen=True)
class Scalar(Expr):
    value: float


@dataclass(frozen=True)
class Cmp(Expr):
    expr: "Expr"
    op: str  # > < >= <= == !=
    rhs: "Expr"  # Scalar(c) for the classic `> 0` threshold form
    # `> bool 5`: keep every element, value 1.0/0.0 (alert math)
    bool_mode: bool = False
    # on/ignoring [+ group_left/group_right] for vector-vector forms
    match: "VectorMatch | None" = None

    @property
    def threshold(self) -> float:
        """The scalar-literal right side (the classic ``> 0`` form) —
        the only comparison shape the streaming compiler and the
        differential oracle accept."""
        if not isinstance(self.rhs, Scalar):
            raise ValueError(
                "promql: comparison right side is a vector expression, "
                "not a scalar literal"
            )
        return self.rhs.value


@dataclass(frozen=True)
class Time(Expr):
    """``time()`` — the evaluation timestamp in epoch seconds, as a
    label-less vector over the evaluation-instant universe (Prometheus
    returns a scalar; relationally the instant is a column)."""


_AGG_OPS = (
    "sum", "avg", "min", "max", "count", "stddev", "stdvar", "quantile",
    "count_values", "group",
)

_DUR_UNITS = {"ms": 0.001, "s": 1.0, "m": 60.0, "h": 3600.0, "d": 86400.0,
              "w": 604800.0, "y": 31536000.0}

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<number>(?:\d+(?:\.\d+)?|\.\d+)(?:[eE][+-]?\d+)?(?![\w:.]))
      | (?P<duration>(?:\d+(?:\.\d+)?(?:ms|[smhdwy]))+)
      | (?P<ident>[A-Za-z_:][A-Za-z0-9_:]*)
      | (?P<string>"(?:\\.|[^"\\])*"|'(?:\\.|[^'\\])*')
      | (?P<op>=~|!~|==|!=|>=|<=|[=<>+\-*/%^(){}\[\],@])
    )""",
    re.VERBOSE,
)


def tokenize(text: str) -> list[tuple[str, str]]:
    tokens: list[tuple[str, str]] = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m or m.end() == pos:
            rest = text[pos:].strip()
            if not rest:
                break
            raise SyntaxError(f"promql: cannot tokenize at {text[pos:pos+20]!r}")
        pos = m.end()
        for kind in ("number", "duration", "ident", "string", "op"):
            val = m.group(kind)
            if val is not None:
                tokens.append((kind, val))
                break
    tokens.append(("eof", ""))
    return tokens


def _duration_seconds(tok: str) -> float:
    """Prometheus duration literal, including COMPOUND forms
    (``1h30m``, ``1m15s``, ``1m30s250ms`` — what Grafana's
    ``$__rate_interval`` interpolates for non-round values).  Accepts
    any unit order/repetition (a superset of Prometheus's
    descending-unit rule — never rejects a valid literal)."""
    if not re.fullmatch(r"(?:\d+(?:\.\d+)?(?:ms|[smhdwy]))+", tok):
        raise SyntaxError(f"promql: bad duration {tok!r}")
    return sum(
        float(n) * _DUR_UNITS[u]
        for n, u in re.findall(r"(\d+(?:\.\d+)?)(ms|[smhdwy])", tok)
    )


def _is_number(kind: str, tok: str) -> bool:
    """A number token — Prometheus's lexer also reads Inf/NaN (any
    case) as number literals, so a metric can't be named `inf`."""
    return kind == "number" or (kind == "ident" and tok.lower() in ("inf", "nan"))


@dataclass
class _Parser:
    tokens: list[tuple[str, str]]
    i: int = 0
    # labels seen anywhere in the expression (grouping clauses +
    # matchers) — the compiler uses this to validate the base table
    labels_seen: set[str] = field(default_factory=set)

    def peek(self) -> tuple[str, str]:
        return self.tokens[self.i]

    def next(self) -> tuple[str, str]:
        tok = self.tokens[self.i]
        self.i += 1
        return tok

    def expect(self, val: str) -> None:
        kind, tok = self.next()
        if tok != val:
            raise SyntaxError(f"promql: expected {val!r}, got {tok!r}")

    def _offset_duration(self, what: str = "offset") -> float:
        """A duration with an optional leading sign — ``offset -5m``
        looks INTO THE FUTURE (PromQL's negative offset)."""
        sign = 1.0
        if self.peek()[1] in ("+", "-"):
            sign = -1.0 if self.next()[1] == "-" else 1.0
        kind, tok = self.next()
        if kind != "duration":
            raise SyntaxError(f"promql: {what} needs a duration, got {tok!r}")
        return sign * _duration_seconds(tok)

    def _modifiers(
        self, offset: float, at: "float | str | None"
    ) -> "tuple[float, float | str | None]":
        """Trailing selector modifiers in either order: ``offset <dur>``
        and/or ``@ <epoch-seconds>`` (each at most once)."""
        seen_offset = seen_at = False
        while True:
            kind, tok = self.peek()
            if tok == "offset" and kind == "ident" and not seen_offset:
                self.next()
                offset = self._offset_duration()
                seen_offset = True
            elif tok == "@" and not seen_at:
                self.next()
                pk, pt = self.peek()
                if pk == "ident" and pt in ("start", "end"):
                    self.next()
                    self.expect("(")
                    self.expect(")")
                    at = pt
                else:
                    at = self.signed_number("@ modifier")
                    if not math.isfinite(at):
                        # Prometheus: "timestamp out of bounds for @ modifier"
                        raise SyntaxError("promql: @ modifier needs a finite timestamp")
                seen_at = True
            else:
                return offset, at

    def signed_number(self, what: str) -> float:
        """A numeric literal with an optional leading sign — PromQL
        scalar arguments may be negative (`predict_linear(m[1h], -600)`
        projects into the past) or explicitly positive, and may be
        ``Inf``/``NaN`` (`clamp_max(m, Inf)`)."""
        sign = 1.0
        kind, tok = self.peek()
        if tok in ("+", "-"):
            self.next()
            sign = -1.0 if tok == "-" else 1.0
            kind, tok = self.peek()
        if not _is_number(kind, tok):
            raise SyntaxError(f"promql: {what} requires a numeric literal")
        self.next()
        return sign * float(tok)

    # PromQL precedence, loosest to tightest:
    #   or  <  and/unless  <  comparisons  <  + -  <  * /
    # expr := or_expr
    def parse_expr(self) -> Expr:
        return self.parse_or()

    def parse_or(self) -> Expr:
        node = self.parse_and()
        while self.peek() == ("ident", "or"):
            self.next()
            match = self._vector_match()
            node = SetOp("or", node, self.parse_and(), match=match)
        return node

    def parse_and(self) -> Expr:
        node = self.parse_cmp()
        while self.peek()[0] == "ident" and self.peek()[1] in ("and", "unless"):
            op = self.next()[1]
            match = self._vector_match()
            node = SetOp(op, node, self.parse_cmp(), match=match)
        return node

    # cmp := arith (cmp_op [bool] [match] arith)* — comparisons bind
    # looser than arithmetic and chain left-associatively, as in
    # PromQL: `a > 0 + b` means `a > (0 + b)` (a scalar fold on the
    # right), and `a > b > c` means `(a > b) > c`.  Literal-vs-literal
    # comparisons require the `bool` modifier, as Prometheus's parser
    # enforces ("comparisons between scalars must use BOOL modifier").
    def parse_cmp(self) -> Expr:
        node = self.parse_arith()
        while self.peek()[1] in (">", "<", ">=", "<=", "==", "!="):
            op = self.next()[1]
            bool_mode = False
            if self.peek() == ("ident", "bool"):
                self.next()
                bool_mode = True
            match = self._vector_match()
            rhs = self.parse_arith()
            if (
                isinstance(node, Scalar)
                and isinstance(rhs, Scalar)
                and not bool_mode
            ):
                raise SyntaxError(
                    "promql: comparisons between scalars must use the "
                    "bool modifier"
                )
            node = Cmp(node, op, rhs, bool_mode=bool_mode, match=match)
        return node

    # arith := term (('+'|'-') [match] term)*
    def parse_arith(self) -> Expr:
        node = self.parse_term()
        while self.peek()[1] in ("+", "-"):
            op = self.next()[1]
            match = self._vector_match()
            node = Bin(op, node, self.parse_term(), match=match)
        return node

    def parse_term(self) -> Expr:
        # * / % atan2 share a precedence level in PromQL; atan2 is a
        # keyword OPERATOR only in infix position (a metric named
        # atan2 still selects at factor position)
        node = self.parse_power()
        while self.peek()[1] in ("*", "/", "%") or self.peek() == (
            "ident",
            "atan2",
        ):
            op = self.next()[1]
            match = self._vector_match()
            node = Bin(op, node, self.parse_power(), match=match)
        return node

    def parse_power(self) -> Expr:
        # ^ binds tightest of the binary ops and is RIGHT-associative
        # (2 ^ 3 ^ 2 == 2 ^ (3 ^ 2)), per the Prometheus operator table.
        # A sign in operand position is the UNARY operator: it binds
        # looser than ^ (-2^2 == -(2^2)) but tighter than * / %, per
        # the same table; on a vector, -v negates each sample value
        # keeping its labels (Prometheus's unary minus).
        kind, tok = self.peek()
        if tok in ("+", "-"):
            self.next()
            inner = self.parse_power()
            if tok == "+":
                return inner
            if isinstance(inner, Scalar):
                return Scalar(-inner.value)
            return Bin("*", Scalar(-1.0), inner)
        node = self.parse_factor()
        if self.peek()[1] == "^":
            self.next()
            match = self._vector_match()
            node = Bin("^", node, self.parse_power(), match=match)
        return node

    def _label_list(self) -> tuple[str, ...]:
        self.expect("(")
        labels: list[str] = []
        while self.peek()[1] != ")":
            kind, tok = self.next()
            if tok == ",":
                continue
            if kind == "string":
                # Prometheus 3.x quoted UTF-8 label names in
                # by/without/on/ignoring/group_x lists (round 16)
                tok = _unquote(tok)
                _check_label_column(tok)
            elif kind != "ident":
                raise SyntaxError(f"promql: bad label {tok!r} in label list")
            labels.append(tok)
            self.labels_seen.add(tok)
        self.expect(")")
        return tuple(labels)

    def _vector_match(self) -> VectorMatch | None:
        """Optional ``on(...)``/``ignoring(...)`` [+ ``group_left``/
        ``group_right`` [(include...)]] after a binary operator."""
        kind, tok = self.peek()
        if kind != "ident" or tok not in ("on", "ignoring"):
            return None
        self.next()
        labels = self._label_list()
        group = None
        include: tuple[str, ...] = ()
        gkind, gtok = self.peek()
        if gkind == "ident" and gtok in ("group_left", "group_right"):
            self.next()
            group = "left" if gtok == "group_left" else "right"
            if self.peek()[1] == "(":
                include = self._label_list()
        return VectorMatch(
            on=labels if tok == "on" else None,
            ignoring=labels if tok == "ignoring" else None,
            group=group,
            include=include,
        )

    def parse_factor(self) -> Expr:
        kind, tok = self.peek()
        if tok == "(":
            return self._call()
        if _is_number(kind, tok):
            self.next()
            return Scalar(float(tok))
        if kind == "ident" and tok in FUNCTIONS:
            # Prometheus reserves only the AGGREGATION keywords (sum,
            # avg, …, topk) — every FUNCTION name doubles as a valid
            # metric name when not followed by "(" (a metric literally
            # named `rate`, `sin` or `deg` stays selectable)
            node_kind, parse_call = FUNCTIONS[tok]
            if node_kind in (Agg, TopK) or self.tokens[self.i + 1][1] == "(":
                self.next()
                return parse_call(self, tok)
        if kind == "ident" or tok == "{":
            return self.parse_selector()
        raise SyntaxError(f"promql: unexpected token {tok!r}")

    # Function-call routines: each is called with the function name
    # already consumed and returns its node (see FUNCTIONS).
    def _call(self) -> Expr:
        """``(expr)`` — a parenthesized expression, or a one-argument
        call's argument."""
        self.expect("(")
        inner = self.parse_expr()
        self.expect(")")
        return inner

    def _no_args(self, node: Expr) -> Expr:
        """``()`` — the empty argument list of ``time()``/``pi()``."""
        self.expect("(")
        self.expect(")")
        return node

    def parse_agg(self, op: str) -> Expr:
        by = without = None
        if self.peek()[1] in ("by", "without"):
            by, without = self._grouping_clause()
        self.expect("(")
        param = None
        value_label = None
        if op == "quantile":
            param = self.signed_number("quantile φ")
            self.expect(",")
        elif op == "count_values":
            kind, tok = self.next()
            if kind != "string":
                raise SyntaxError(
                    "promql: count_values requires a string label name"
                )
            value_label = _unquote(tok)
            self.labels_seen.add(value_label)
            self.expect(",")
        inner = self.parse_expr()
        self.expect(")")
        if by is None and without is None and self.peek()[1] in ("by", "without"):
            by, without = self._grouping_clause()
        return Agg(
            op, inner, by=by, without=without, param=param,
            value_label=value_label,
        )

    def _grouping_clause(self):
        mode = self.next()[1]
        labels_t = self._label_list()
        return (labels_t, None) if mode == "by" else (None, labels_t)

    def _range_suffix(
        self, inner: Expr
    ) -> tuple["Selector | Subquery", float, float | None]:
        """``[dur]`` (classic range selector, optional trailing
        ``offset``/``@`` modifiers in either order) or ``[dur:step]``
        (subquery — the colon-led step rides in an ident token because
        metric names may contain colons).  Returns (operand, window,
        at_seconds|None); the CALLER wraps its range-function node in
        :class:`At` — ``rate(m[5m] @ t)`` pins the whole rate
        evaluation at t, not just the selector."""
        self.expect("[")
        kind, tok = self.next()
        if kind != "duration":
            raise SyntaxError(f"promql: expected duration, got {tok!r}")
        window = _duration_seconds(tok)
        step = None
        skind, stok = self.peek()
        if skind == "ident" and stok.startswith(":"):
            if len(stok) == 1:
                raise SyntaxError(
                    "promql: subquery needs an explicit step — expr[range:step]"
                )
            self.next()
            step = _duration_seconds(stok[1:])
        self.expect("]")
        if step is not None or not isinstance(inner, Selector):
            if step is None:
                raise SyntaxError(
                    "promql: a range over a non-selector expression is a "
                    "subquery and needs an explicit step — expr[range:step]"
                )
            return Subquery(inner, window, step), window, None
        sel = inner
        # canonical PromQL places the modifiers AFTER the range:
        # m[5m] offset 1w @ 1712000000
        offset, at = self._modifiers(sel.offset_seconds, None)
        if offset != sel.offset_seconds:
            sel = dataclasses.replace(sel, offset_seconds=offset)
        return sel, window, at

    def _range_call(
        self, close: bool = True
    ) -> tuple["Selector | Subquery", float, float | None]:
        self.expect("(")
        inner = self.parse_expr()
        operand, window, at = self._range_suffix(inner)
        if close:
            self.expect(")")
        return operand, window, at

    @staticmethod
    def _wrap_at(node: Expr, at: float | None) -> Expr:
        return At(node, at) if at is not None else node

    def parse_rate(self, fn: str) -> Expr:
        sel, window, at = self._range_call()
        return self._wrap_at(Rate(sel, window, fn=fn), at)

    def parse_deriv(self, fn: str) -> Expr:
        if fn == "deriv":
            sel, window, at = self._range_call()
            return self._wrap_at(Deriv(sel, window), at)
        sel, window, at = self._range_call(close=False)
        self.expect(",")
        horizon = self.signed_number("predict_linear horizon")
        self.expect(")")
        return self._wrap_at(Deriv(sel, window, predict_seconds=horizon), at)

    def parse_holt_winters(self, fn: str) -> Expr:
        sel, window, at = self._range_call(close=False)
        self.expect(",")
        sf = self.signed_number("holt_winters smoothing factor")
        self.expect(",")
        tf = self.signed_number("holt_winters trend factor")
        self.expect(")")
        if not (0 < sf < 1) or not (0 < tf < 1):
            raise SyntaxError("promql: holt_winters factors must be in (0, 1)")
        return self._wrap_at(HoltWinters(sel, window, sf, tf), at)

    def parse_over_time(self, fn: str) -> Expr:
        op = fn[: -len("_over_time")]
        if op == "quantile":
            # quantile_over_time(φ, sel[w])
            self.expect("(")
            phi = self.signed_number("quantile_over_time φ")
            self.expect(",")
            inner = self.parse_expr()
            operand, window, at = self._range_suffix(inner)
            self.expect(")")
            return self._wrap_at(OverTime(op, operand, window, param=phi), at)
        sel, window, at = self._range_call()
        return self._wrap_at(OverTime(op, sel, window), at)

    def parse_topk(self, fn: str) -> Expr:
        self.expect("(")
        kind, tok = self.next()
        if kind != "number":
            raise SyntaxError("promql: topk requires a literal k")
        self.expect(",")
        inner = self.parse_expr()
        self.expect(")")
        return TopK(int(float(tok)), inner, bottom=(fn == "bottomk"))

    def parse_limitk(self, fn: str) -> Expr:
        self.expect("(")
        if fn == "limitk":
            kind, tok = self.next()
            if kind != "number":
                raise SyntaxError("promql: limitk requires a literal k")
            param = float(tok)
            if param != int(param) or param < 0:
                raise SyntaxError("promql: limitk k must be a non-negative integer")
        else:
            param = self.signed_number("limit_ratio r")
            if not (-1.0 <= param <= 1.0):
                raise SyntaxError("promql: limit_ratio r must be in [-1, 1]")
        self.expect(",")
        inner = self.parse_expr()
        self.expect(")")
        return LimitK(param, inner, ratio=(fn == "limit_ratio"))

    def parse_round(self, fn: str) -> Expr:
        """``round(v[, to_nearest])`` — nearest multiple of to_nearest
        (default 1), halves rounded UP (Prometheus funcRound)."""
        self.expect("(")
        inner = self.parse_expr()
        arg = 1.0
        if self.peek()[1] == ",":
            self.next()
            arg = self.signed_number("round to_nearest")
            if arg == 0:
                raise SyntaxError("promql: round to_nearest must be non-zero")
        self.expect(")")
        return MathFn("round", inner, arg=arg)

    def parse_math_fn(self, fn: str) -> Expr:
        self.expect("(")
        inner = self.parse_expr()
        arg = arg2 = None
        if fn in ("clamp_min", "clamp_max"):
            self.expect(",")
            arg = self.signed_number(f"{fn} bound")
        elif fn == "clamp":
            self.expect(",")
            arg = self.signed_number("clamp min")
            self.expect(",")
            arg2 = self.signed_number("clamp max")
        self.expect(")")
        return MathFn(fn, inner, arg=arg, arg2=arg2)

    def parse_sort(self, fn: str) -> Expr:
        self.expect("(")
        inner = self.parse_expr()
        by_labels = None
        if fn.startswith("sort_by_label"):
            labels = []
            while self.peek()[1] == ",":
                labels.append(self._string_arg())
            if not labels:
                raise SyntaxError("promql: sort_by_label needs at least one label")
            by_labels = tuple(labels)
        self.expect(")")
        return Sort(inner, desc=fn.endswith("_desc"), by_labels=by_labels)

    def parse_date_fn(self, fn: str) -> Expr:
        self.expect("(")
        inner = None
        if self.peek()[1] != ")":
            inner = self.parse_expr()
        self.expect(")")
        if fn == "timestamp" and inner is None:
            raise SyntaxError("promql: timestamp() requires a vector")
        return DateFn(fn, inner)

    def parse_histogram_quantile(self, fn: str) -> Expr:
        self.expect("(")
        phi = self.signed_number("histogram_quantile φ")
        self.expect(",")
        inner = self.parse_expr()
        self.expect(")")
        return HistogramQuantile(phi, inner)

    def parse_histogram_fraction(self, fn: str) -> Expr:
        self.expect("(")
        lo = self.signed_number("histogram_fraction lower")
        self.expect(",")
        hi = self.signed_number("histogram_fraction upper")
        self.expect(",")
        inner = self.parse_expr()
        self.expect(")")
        return HistogramFraction(lo, hi, inner)

    def _string_arg(self) -> str:
        self.expect(",")
        kind, tok = self.next()
        if kind != "string":
            raise SyntaxError(f"promql: expected a string argument, got {tok!r}")
        return _unquote(tok)

    def parse_label_replace(self, fn: str) -> Expr:
        self.expect("(")
        inner = self.parse_expr()
        dst = self._string_arg()
        repl = self._string_arg()
        src = self._string_arg()
        regex = self._string_arg()
        self.expect(")")
        return LabelReplace(inner, dst, repl, src, regex)

    def parse_label_join(self, fn: str) -> Expr:
        self.expect("(")
        inner = self.parse_expr()
        dst = self._string_arg()
        sep = self._string_arg()
        srcs = []
        while self.peek()[1] == ",":
            srcs.append(self._string_arg())
        self.expect(")")
        return LabelJoin(inner, dst, sep, tuple(srcs))

    def parse_info(self, fn: str) -> Expr:
        self.expect("(")
        inner = self.parse_expr()
        matchers: tuple[Matcher, ...] = ()
        if self.peek()[1] == ",":
            self.next()
            _, matchers = self._matcher_block()
            if not matchers:
                raise SyntaxError(
                    "promql: info() data-label selector needs at least "
                    "one matcher"
                )
        self.expect(")")
        return Info(inner, matchers)

    def _matcher_block(
        self, allow_name: bool = False
    ) -> "tuple[str | None, tuple[Matcher, ...]]":
        """The ``{label op "value", ...}`` block shared by selectors
        and info()'s data-label selector.  Prometheus 3.x UTF-8 name
        syntax (round 16): a bare quoted string entry is the METRIC
        name (``{"my.metric", lbl="v"}`` — at most one, selectors
        only), and a quoted string before a matcher op is a quoted
        LABEL name (``{"label name"="v"}``)."""
        matchers: list[Matcher] = []
        name: str | None = None
        self.expect("{")
        while self.peek()[1] != "}":
            lkind, label = self.next()
            if label == ",":
                continue
            if lkind == "string" and self.peek()[1] not in (
                "=", "!=", "=~", "!~",
            ):
                if not allow_name:
                    raise SyntaxError(
                        "promql: a quoted metric-name entry is only "
                        "valid in a vector selector"
                    )
                if name is not None:
                    raise SyntaxError(
                        "promql: metric name set twice in selector"
                    )
                name = _unquote(label)
                continue
            if lkind == "string":
                label = _unquote(label)
                _check_label_column(label)
            elif lkind != "ident":
                raise SyntaxError(f"promql: bad matcher label {label!r}")
            okind, op = self.next()
            if op not in ("=", "!=", "=~", "!~"):
                raise SyntaxError(f"promql: bad matcher op {op!r}")
            skind, sval = self.next()
            if skind != "string":
                raise SyntaxError(f"promql: matcher value must be a string")
            matchers.append(Matcher(label, op, _unquote(sval)))
            self.labels_seen.add(label)
        self.expect("}")
        return name, tuple(matchers)

    def parse_selector(self) -> "Selector | At":
        kind, tok = self.peek()
        name = None
        if kind == "ident":
            name = self.next()[1]
        matchers: tuple[Matcher, ...] = ()
        if self.peek()[1] == "{":
            qname, matchers = self._matcher_block(allow_name=True)
            if qname is not None:
                if name is not None:
                    raise SyntaxError(
                        "promql: metric name set twice in selector"
                    )
                name = qname
        if name is None and not matchers:
            raise SyntaxError("promql: empty selector")
        offset, at = self._modifiers(0.0, None)
        sel = Selector(name, tuple(matchers), offset_seconds=offset)
        return At(sel, at) if at is not None else sel


#: Function name → (node kind, parse routine).  The routine runs with
#: the name consumed and returns the call's node.  The names of the Agg
#: and TopK kinds are reserved keywords; every other name is a function
#: only when a "(" follows it.
FUNCTIONS: dict[str, tuple[type, Callable[[_Parser, str], Expr]]] = {
    **dict.fromkeys(_AGG_OPS, (Agg, _Parser.parse_agg)),
    **dict.fromkeys(("topk", "bottomk"), (TopK, _Parser.parse_topk)),
    **dict.fromkeys(("limitk", "limit_ratio"), (LimitK, _Parser.parse_limitk)),
    **dict.fromkeys(
        ("rate", "irate", "increase", "delta", "idelta", "resets", "changes"),
        (Rate, _Parser.parse_rate),
    ),
    **dict.fromkeys(("deriv", "predict_linear"), (Deriv, _Parser.parse_deriv)),
    **dict.fromkeys(
        ("holt_winters", "double_exponential_smoothing"),
        (HoltWinters, _Parser.parse_holt_winters),
    ),
    # count_values/group have no *_over_time form in Prometheus;
    # present/last/… exist without a matching top-level aggregation
    **{
        f"{op}_over_time": (OverTime, _Parser.parse_over_time)
        for op in (
            "sum", "avg", "min", "max", "count", "stddev", "stdvar",
            "quantile", "last", "absent", "present", "first", "mad",
            "ts_of_max", "ts_of_min", "ts_of_last", "ts_of_first",
        )
    },
    "label_replace": (LabelReplace, _Parser.parse_label_replace),
    "label_join": (LabelJoin, _Parser.parse_label_join),
    "info": (Info, _Parser.parse_info),
    "histogram_quantile": (HistogramQuantile, _Parser.parse_histogram_quantile),
    **dict.fromkeys(
        (
            "histogram_count", "histogram_sum", "histogram_avg",
            "histogram_stddev", "histogram_stdvar",
        ),
        (HistogramFn, lambda p, name: HistogramFn(name[len("histogram_"):], p._call())),
    ),
    "histogram_fraction": (HistogramFraction, _Parser.parse_histogram_fraction),
    **dict.fromkeys(
        (
            "abs", "ceil", "floor", "exp", "ln", "log2", "log10", "sqrt",
            "sgn", "clamp", "clamp_min", "clamp_max",
            # the Prometheus trigonometric family (funcAcos..funcTanh,
            # plus the degree/radian converters)
            "acos", "acosh", "asin", "asinh", "atan", "atanh", "cos",
            "cosh", "sin", "sinh", "tan", "tanh", "deg", "rad",
        ),
        (MathFn, _Parser.parse_math_fn),
    ),
    "round": (MathFn, _Parser.parse_round),
    **dict.fromkeys(
        ("sort", "sort_desc", "sort_by_label", "sort_by_label_desc"),
        (Sort, _Parser.parse_sort),
    ),
    **dict.fromkeys(
        (
            "timestamp", "minute", "hour", "day_of_week", "day_of_month",
            "day_of_year", "days_in_month", "month", "year",
        ),
        (DateFn, _Parser.parse_date_fn),
    ),
    "scalar": (Scalarize, lambda p, name: Scalarize(p._call())),
    "vector": (Vectorize, lambda p, name: Vectorize(p._call())),
    "absent": (Absent, lambda p, name: Absent(p._call())),
    "time": (Time, lambda p, name: p._no_args(Time())),
    "pi": (Scalar, lambda p, name: p._no_args(Scalar(math.pi))),
}


def _unquote(s: str) -> str:
    body = s[1:-1]
    return body.replace('\\"', '"').replace("\\\\", "\\")


#: classic (pre-3.x) PromQL identifier — anything else must render
#: quoted in to_promql
_LEGACY_IDENT_RE = re.compile(r"^[A-Za-z_:][A-Za-z0-9_:]*$")


def _check_label_column(label: str) -> None:
    """Engine contract for UTF-8 LABEL names: labels map 1:1 to
    DataFrame columns, and '.'/'`' are Spark column-reference
    metacharacters this engine does not escape through its 169
    column-touching sites — reject loudly at parse rather than
    mis-resolve at evaluate (METRIC names are values, any UTF-8 is
    fine there)."""
    if "." in label or "`" in label:
        raise SyntaxError(
            f"promql: label name {label!r} contains '.' or '`' — this "
            f"engine maps label names to DataFrame columns 1:1 and "
            f"those are Spark column-reference metacharacters; rename "
            f"the label column (metric NAMES may contain any UTF-8)"
        )


def _quote_name(s: str) -> str:
    return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'


def _label_txt(label: str) -> str:
    """A label name as PromQL text: bare when a classic identifier,
    quoted (3.x UTF-8 syntax) otherwise."""
    return label if _LEGACY_IDENT_RE.fullmatch(label) else _quote_name(label)


def parse(text: str) -> Expr:
    p = _Parser(tokenize(text))
    node = p.parse_expr()
    kind, tok = p.peek()
    if kind != "eof":
        raise SyntaxError(f"promql: trailing input at {tok!r}")
    return node


def to_promql(node: Expr) -> str:
    """Render an AST back to PromQL text.  ``parse(to_promql(x)) == x``
    for every AST this parser can produce (durations normalize to
    seconds) — property-tested in tests/test_promql.py."""
    return _kind(node).render(node)


def _kind(node: Expr):
    """``node``'s row in the kind table, ``compiler.KINDS`` (it sits
    with the evaluations; compiler.py imports this module)."""
    from kafka_metrics_exporter_spark.promql.compiler import KINDS

    return KINDS[type(node)]


# Renderers, one per node kind (the ``render`` of its KINDS row).  A
# range-function renderer takes the ``@`` of an enclosing At, which
# PromQL writes inside the range body: ``rate(m[5m] @ t)``.
def _render_scalar(node: Scalar) -> str:
    return _fmt_num(node.value)


def _render_selector(node: Selector) -> str:
    ms_items = [
        f'{_label_txt(m.label)} {m.op} "{m.value}"' for m in node.matchers
    ]
    if node.name is not None and not _LEGACY_IDENT_RE.fullmatch(node.name):
        # 3.x UTF-8 metric name: quoted inside the braces
        parts = "{" + ", ".join([_quote_name(node.name)] + ms_items) + "}"
    else:
        parts = node.name or ""
        if ms_items:
            parts += "{" + ", ".join(ms_items) + "}"
    if node.offset_seconds:
        parts += f" offset {_fmt_dur(node.offset_seconds)}"
    return parts


def _render_subquery(node: Subquery) -> str:
    return (
        f"({to_promql(node.expr)})"
        f"[{_fmt_dur(node.range_seconds)}:{_fmt_dur(node.step_seconds)}]"
    )


def _render_rate(node: Rate, at=None) -> str:
    return f"{node.fn}({_range_body(node.selector, node.window_seconds, at)})"


def _render_deriv(node: Deriv, at=None) -> str:
    body = _range_body(node.selector, node.window_seconds, at)
    if node.predict_seconds is None:
        return f"deriv({body})"
    return f"predict_linear({body}, {_fmt_num(node.predict_seconds)})"


def _render_over_time(node: OverTime, at=None) -> str:
    body = _range_body(node.selector, node.window_seconds, at)
    if node.op == "quantile":
        return f"quantile_over_time({node.param!r}, {body})"
    return f"{node.op}_over_time({body})"


def _render_holt_winters(node: HoltWinters, at=None) -> str:
    body = _range_body(node.selector, node.window_seconds, at)
    return f"holt_winters({body}, {node.sf!r}, {node.tf!r})"


def _render_at(node: At) -> str:
    if isinstance(node.expr, Selector):
        return f"{to_promql(node.expr)} @ {_fmt_at(node.at_seconds)}"
    return _kind(node.expr).render(node.expr, node.at_seconds)


def _render_agg(node: Agg) -> str:
    clause = ""
    if node.by is not None:
        clause = f" by ({', '.join(map(_label_txt, node.by))}) "
    elif node.without is not None:
        clause = f" without ({', '.join(map(_label_txt, node.without))}) "
    if node.value_label is not None:
        param = f'"{node.value_label}", '
    elif node.param is not None:
        param = f"{node.param!r}, "
    else:
        param = ""
    return f"{node.op}{clause}({param}{to_promql(node.expr)})"


def _render_topk(node: TopK) -> str:
    fn = "bottomk" if node.bottom else "topk"
    return f"{fn}({node.k}, {to_promql(node.expr)})"


def _render_limitk(node: LimitK) -> str:
    if node.ratio:
        return f"limit_ratio({_fmt_num(node.param)}, {to_promql(node.expr)})"
    return f"limitk({int(node.param)}, {to_promql(node.expr)})"


def _render_binary(node: "Bin | SetOp") -> str:
    # wrap each operand: comparisons bind looser than arithmetic, so a
    # Cmp operand is only expressible with its own parens
    mod = _fmt_match(node.match)
    return f"(({to_promql(node.left)}) {node.op}{mod} ({to_promql(node.right)}))"


def _render_cmp(node: Cmp) -> str:
    b = " bool" if node.bool_mode else ""
    mod = _fmt_match(node.match)
    return f"(({to_promql(node.expr)}) {node.op}{b}{mod} ({to_promql(node.rhs)}))"


def _render_math_fn(node: MathFn) -> str:
    args = "".join(
        f", {_fmt_num(a)}" for a in (node.arg, node.arg2) if a is not None
    )
    return f"{node.fn}({to_promql(node.expr)}{args})"


def _render_sort(node: Sort) -> str:
    if node.by_labels is not None:
        fn = "sort_by_label_desc" if node.desc else "sort_by_label"
        labels = "".join(f', "{l}"' for l in node.by_labels)
        return f"{fn}({to_promql(node.expr)}{labels})"
    fn = "sort_desc" if node.desc else "sort"
    return f"{fn}({to_promql(node.expr)})"


def _render_date_fn(node: DateFn) -> str:
    inner = to_promql(node.expr) if node.expr is not None else ""
    return f"{node.fn}({inner})"


def _render_histogram_quantile(node: HistogramQuantile) -> str:
    return f"histogram_quantile({_fmt_num(node.phi)}, {to_promql(node.expr)})"


def _render_histogram_fn(node: HistogramFn) -> str:
    return f"histogram_{node.fn}({to_promql(node.expr)})"


def _render_histogram_fraction(node: HistogramFraction) -> str:
    return (
        f"histogram_fraction({_fmt_num(node.lo)}, {_fmt_num(node.hi)}, "
        f"{to_promql(node.expr)})"
    )


def _render_label_replace(node: LabelReplace) -> str:
    return (
        f'label_replace({to_promql(node.expr)}, "{node.dst}", '
        f'"{node.replacement}", "{node.src}", "{node.regex}")'
    )


def _render_label_join(node: LabelJoin) -> str:
    srcs = "".join(f', "{s}"' for s in node.srcs)
    return f'label_join({to_promql(node.expr)}, "{node.dst}", "{node.sep}"{srcs})'


def _render_info(node: Info) -> str:
    if node.matchers:
        ms = ", ".join(f'{m.label}{m.op}"{m.value}"' for m in node.matchers)
        return f"info({to_promql(node.expr)}, {{{ms}}})"
    return f"info({to_promql(node.expr)})"


def _render_call(fn: str):
    """Renderer of a one-argument call ``fn(expr)``."""
    return lambda node: f"{fn}({to_promql(node.expr)})"


def _render_time(node: Time) -> str:
    return "time()"


def _fmt_num(x: float) -> str:
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "Inf" if x > 0 else "-Inf"
    return repr(x) if x != int(x) else str(int(x))


def _fmt_at(at: "float | str") -> str:
    return f"{at}()" if isinstance(at, str) else _fmt_num(at)


def _range_body(
    operand: "Selector | Subquery",
    window_seconds: float,
    at_seconds: float | None = None,
) -> str:
    """Render a range-function operand: a subquery carries its own
    ``[range:step]`` brackets; a selector gets the classic ``[dur]``
    with any offset / ``@`` modifiers re-attached after it."""
    if isinstance(operand, Subquery):
        return to_promql(operand)
    sel = dataclasses.replace(operand, offset_seconds=0.0)
    body = f"{to_promql(sel)}[{_fmt_dur(window_seconds)}]"
    if operand.offset_seconds:
        body += f" offset {_fmt_dur(operand.offset_seconds)}"
    if at_seconds is not None:
        body += f" @ {_fmt_at(at_seconds)}"
    return body


def _fmt_match(m: "VectorMatch | None") -> str:
    if m is None:
        return ""
    if m.on is not None:
        s = f" on({', '.join(map(_label_txt, m.on))})"
    else:
        s = f" ignoring({', '.join(map(_label_txt, m.ignoring))})"
    if m.group is not None:
        s += f" group_{m.group}({', '.join(map(_label_txt, m.include))})"
    return s


def _fmt_dur(seconds: float) -> str:
    if seconds == int(seconds):
        return f"{int(seconds)}s"
    return f"{int(seconds * 1000)}ms"
