"""Predicate AST, SQL-subset parser, and min/max-stats evaluation.

Plays the role of the reference's Catalyst→Iceberg expression bridge
(/root/reference/src/main/scala/org/apache/spark/sql/iceberg/utils/
ExpressionConversions.scala:33-92 — comparisons with operand flip, In/InSet,
IsNull/IsNotNull/Not/And/Or — and LiteralUtils.scala:35-58 literal
conversion). Since our engine receives filters as SQL text rather than
Catalyst trees, the bridge is a small recursive-descent parser into this AST;
the lenient conversion mode (non-convertible subtree → AlwaysTrue, sound only
under AND — ExpressionConversions.scala:170-177) is mirrored by
``parse_predicate_lenient``.

Evaluation against file statistics implements the manifest-pruning decision
of IceTableScanExec.planFiles (IceTableScanExec.scala:76-82): given per-file
per-column (min, max, null_count) collected from parquet footers at write
time (ParquetMetrics.scala:38-117), ``may_match`` returns False only when the
file provably contains no matching row — pruning is always sound, never
required for correctness (the full filter re-applies at execution).
"""

from __future__ import annotations

import datetime as _dt
import re
from dataclasses import dataclass


class Pred:
    def columns(self) -> set[str]:
        return set()


@dataclass(frozen=True)
class AlwaysTrue(Pred):
    pass


@dataclass(frozen=True)
class AlwaysFalse(Pred):
    pass


@dataclass(frozen=True)
class Comparison(Pred):
    op: str  # '=', '!=', '<', '<=', '>', '>='
    col: str
    value: object

    def columns(self) -> set[str]:
        return {self.col}


@dataclass(frozen=True)
class In(Pred):
    col: str
    values: tuple

    def columns(self) -> set[str]:
        return {self.col}


@dataclass(frozen=True)
class IsNull(Pred):
    col: str

    def columns(self) -> set[str]:
        return {self.col}


@dataclass(frozen=True)
class NotNull(Pred):
    col: str

    def columns(self) -> set[str]:
        return {self.col}


@dataclass(frozen=True)
class And(Pred):
    left: Pred
    right: Pred

    def columns(self) -> set[str]:
        return self.left.columns() | self.right.columns()


@dataclass(frozen=True)
class Or(Pred):
    left: Pred
    right: Pred

    def columns(self) -> set[str]:
        return self.left.columns() | self.right.columns()


@dataclass(frozen=True)
class Not(Pred):
    child: Pred

    def columns(self) -> set[str]:
        return self.child.columns()


@dataclass(frozen=True)
class Residual(Pred):
    """A leaf the lenient parser could not convert (e.g. LIKE '%x%').

    Unlike AlwaysTrue — which asserts every row matches — Residual asserts
    nothing: ``may_match`` is True (never prune on it) and ``must_match_all``
    is False (never lets NOT prune through it). This is the distinction the
    reference's alwaysTrue fallback (ExpressionConversions.scala:170-177)
    glosses over; using AlwaysTrue there is only sound under top-level AND,
    while Residual is sound in any position.
    """

    col: str | None = None

    def columns(self) -> set[str]:
        return {self.col} if self.col else set()


def and_all(preds: list[Pred]) -> Pred:
    out: Pred = AlwaysTrue()
    for p in preds:
        out = p if isinstance(out, AlwaysTrue) else And(out, p)
    return out


# ------------------------------------------------------------------ parser --

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<lpar>\() | (?P<rpar>\)) | (?P<comma>,) |
        (?P<op><=>|<=|>=|<>|!=|=|<|>) |
        (?P<str>'(?:[^']|'')*') |
        (?P<num>-?\d+\.\d+|-?\d+) |
        (?P<word>[A-Za-z_][A-Za-z0-9_.]*|`[^`]+`)
    )""",
    re.VERBOSE,
)

_KEYWORDS = {"and", "or", "not", "in", "is", "null", "between", "true", "false",
             "date", "timestamp", "like"}


def _tokenize(text: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            if text[pos:].strip() == "":
                break
            raise ValueError(f"cannot tokenize predicate at: {text[pos:pos+30]!r}")
        pos = m.end()
        for kind in ("lpar", "rpar", "comma", "op", "str", "num", "word"):
            tok = m.group(kind)
            if tok is not None:
                if kind == "word" and tok.lower() in _KEYWORDS:
                    out.append((tok.lower(), tok))
                else:
                    out.append((kind, tok))
                break
    out.append(("eof", ""))
    return out


def _coerce_literal(kind: str, raw: str, prefix: str | None = None):
    if kind == "num":
        return float(raw) if "." in raw else int(raw)
    if kind == "str":
        s = raw[1:-1].replace("''", "'")
        if prefix == "date":
            return _dt.date.fromisoformat(s)
        if prefix == "timestamp":
            return _dt.datetime.fromisoformat(s.replace(" ", "T"))
        return s
    raise ValueError(f"bad literal {raw!r}")


class _Parser:
    """Recursive descent: expr := term (OR term)*; term := factor (AND factor)*;
    factor := NOT factor | '(' expr ')' | predicate."""

    def __init__(self, tokens: list[tuple[str, str]], lenient: bool = False):
        self.toks = tokens
        self.i = 0
        self.lenient = lenient

    def peek(self):
        return self.toks[self.i]

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, kind: str):
        k, v = self.next()
        if k != kind:
            raise ValueError(f"expected {kind}, got {v!r}")
        return v

    def parse(self) -> Pred:
        p = self.expr()
        if self.peek()[0] != "eof":
            raise ValueError(f"trailing tokens at {self.peek()[1]!r}")
        return p

    def expr(self) -> Pred:
        left = self.term()
        while self.peek()[0] == "or":
            self.next()
            left = Or(left, self.term())
        return left

    def term(self) -> Pred:
        left = self.factor()
        while self.peek()[0] == "and":
            self.next()
            left = And(left, self.factor())
        return left

    FLIP = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}

    def factor(self) -> Pred:
        k, v = self.peek()
        if k == "not":
            self.next()
            return Not(self.factor())
        if k == "lpar":
            self.next()
            p = self.expr()
            self.expect("rpar")
            return p
        if k == "true":
            self.next()
            return AlwaysTrue()
        if k == "false":
            self.next()
            return AlwaysFalse()
        if k in ("num", "str", "date", "timestamp"):
            # literal-on-left comparison: flip operands (the reference's
            # operand flip, ExpressionConversions.scala:47-58)
            lit = self._literal()
            op_kind, op = self.next()
            if op_kind != "op":
                raise ValueError(f"expected comparison after literal, got {op!r}")
            op = {"<>": "!=", "<=>": "="}.get(op, op)
            col = self._column()
            return Comparison(self.FLIP.get(op, op), col, lit)
        return self.predicate()

    def _column(self) -> str:
        v = self.expect("word")
        return v.strip("`")

    def _literal(self):
        k, v = self.next()
        if k in ("date", "timestamp"):
            k2, v2 = self.next()
            return _coerce_literal(k2, v2, prefix=k)
        return _coerce_literal(k, v)

    def predicate(self) -> Pred:
        col = self._column()
        k, v = self.next()
        if k == "op":
            # <=> (null-safe eq) maps to plain EQ for pruning, like the
            # reference (ExpressionConversions.scala:33-40); sound because
            # NULL <=> v matches only all-null files, which EQ pruning keeps
            # conservative via the null-count path
            op = {"<>": "!=", "<=>": "="}.get(v, v)
            return Comparison(op, col, self._literal())
        if k == "between":
            lo = self._literal()
            if self.next()[0] != "and":
                raise ValueError("BETWEEN requires AND")
            hi = self._literal()
            return And(Comparison(">=", col, lo), Comparison("<=", col, hi))
        if k == "in":
            self.expect("lpar")
            vals = [self._literal()]
            while self.peek()[0] == "comma":
                self.next()
                vals.append(self._literal())
            self.expect("rpar")
            return In(col, tuple(vals))
        if k == "is":
            negate = False
            if self.peek()[0] == "not":
                self.next()
                negate = True
            if self.next()[0] != "null":
                raise ValueError("IS must be followed by [NOT] NULL")
            return NotNull(col) if negate else IsNull(col)
        if k == "like":
            return self._like(col)
        if k == "not":
            k2, v2 = self.next()
            if k2 == "like":
                return Not(self._like(col))
            raise ValueError(f"unexpected token {v2!r} after NOT")
        raise ValueError(f"unexpected token {v!r} after column {col!r}")

    def _like(self, col: str) -> Pred:
        """LIKE with a wildcard-free or pure-prefix pattern prunes exactly
        (startsWith ⟺ a half-open string range); anything else degrades to
        Residual in lenient mode. Sound under NOT either way."""
        pat = self._literal()
        if not isinstance(pat, str):
            raise ValueError("LIKE pattern must be a string")
        if not any(ch in pat for ch in "%_\\"):
            return Comparison("=", col, pat)
        body = pat[:-1]
        if pat.endswith("%") and body and not any(ch in body for ch in "%_\\"):
            upper = _prefix_upper(body)
            lo = Comparison(">=", col, body)
            return And(lo, Comparison("<", col, upper)) if upper else lo
        if self.lenient:
            return Residual(col)
        raise ValueError(f"LIKE pattern {pat!r} is not prunable")


def parse_predicate(text: str) -> Pred:
    """Strict parse — raises on any construct outside the prunable subset
    (mirrors ExpressionConversions.convertStrict)."""
    if not text or not text.strip():
        return AlwaysTrue()
    return _Parser(_tokenize(text)).parse()


def parse_predicate_lenient(text: str) -> Pred:
    """Lenient parse — unsupported leaf predicates degrade to ``Residual``
    (maybe-match), which is sound in ANY position including under NOT
    (improves on ExpressionConversions.convert's alwaysTrue fallback, which
    is only sound under top-level AND). A wholly unparseable predicate
    degrades to a global Residual: no pruning."""
    if not text or not text.strip():
        return AlwaysTrue()
    try:
        return _Parser(_tokenize(text), lenient=True).parse()
    except ValueError:
        return Residual()


def _prefix_upper(prefix: str) -> str | None:
    """Smallest string greater than every string starting with ``prefix``
    (increment the rightmost incrementable code point); None if none exists."""
    for i in range(len(prefix) - 1, -1, -1):
        c = ord(prefix[i])
        if c < 0x10FFFF:
            return prefix[:i] + chr(c + 1)
    return None


# ------------------------------------------------------- stats evaluation --


def _cmp_coerce(a, b):
    """Coerce stat/literal pairs to comparable types (numbers vs numbers,
    dates vs datetimes, strings vs strings)."""
    if isinstance(a, _dt.datetime) and isinstance(b, _dt.date) and not isinstance(b, _dt.datetime):
        b = _dt.datetime(b.year, b.month, b.day)
    elif isinstance(b, _dt.datetime) and isinstance(a, _dt.date) and not isinstance(a, _dt.datetime):
        a = _dt.datetime(a.year, a.month, a.day)
    return a, b


def _lt(a, b):
    a, b = _cmp_coerce(a, b)
    return a < b


def _le(a, b):
    a, b = _cmp_coerce(a, b)
    return a <= b


def _has_nan(*values) -> bool:
    """Spark orders NaN above every other value and has NaN = NaN, where
    Python's comparisons are all False. A NaN bound (parquet-mr writes
    max = NaN for a column that holds one) or literal therefore orders
    nothing here, and the file cannot be pruned or proven."""
    return any(isinstance(v, float) and v != v for v in values)


def _bloom_admits(st, v) -> bool:
    """Per-file Bloom probe for equality literals (catalog/stats.py
    layout). Sound: only int/str literals probe (their Python str() equals
    Spark's CAST AS STRING canonical form, which the build used); anything
    else — floats, dates, bools — returns True (no pruning). A False here
    means the value is DEFINITELY absent from the file."""
    if getattr(st, "bloom", None) is None:
        return True
    if isinstance(v, bool) or not isinstance(v, (int, str)):
        return True
    from icebergsql_spark.catalog.stats import bloom_may_contain

    return bloom_may_contain(st.bloom, str(v))


def may_match(pred: Pred, stats: dict[str, "ColStats"]) -> bool:  # noqa: F821
    """Can a file with these column stats contain a row matching pred?

    Three-valued logic collapsed to {maybe, no}: True means "cannot rule
    out". Unknown columns / missing stats → True. `stats` maps column →
    ColStats(min, max, null_count, value_count); for partition columns the
    min==max==value encoding makes this exact.
    """
    if isinstance(pred, (AlwaysTrue, Residual)):
        return True
    if isinstance(pred, AlwaysFalse):
        return False
    if isinstance(pred, And):
        return may_match(pred.left, stats) and may_match(pred.right, stats)
    if isinstance(pred, Or):
        return may_match(pred.left, stats) or may_match(pred.right, stats)
    if isinstance(pred, Not):
        return not must_match_all(pred.child, stats)
    if isinstance(pred, (Comparison, In, IsNull, NotNull)):
        col = pred.col
        st = stats.get(col)
        if st is None:
            return True
        if isinstance(pred, IsNull):
            return st.null_count is None or st.null_count > 0
        all_null = (
            st.null_count is not None
            and st.value_count is not None
            and st.null_count == st.value_count
        )
        if isinstance(pred, NotNull):
            return not all_null
        if all_null:
            return False  # comparisons/IN never match nulls
        if st.min is None or st.max is None:
            return True
        values = pred.values if isinstance(pred, In) else (pred.value,)
        if _has_nan(st.min, st.max, *values):
            return True
        try:
            if isinstance(pred, In):
                return any(
                    _le(st.min, v) and _le(v, st.max) and _bloom_admits(st, v)
                    for v in pred.values
                )
            v = pred.value
            if pred.op == "=":
                return _le(st.min, v) and _le(v, st.max) and _bloom_admits(st, v)
            if pred.op == "!=":
                return not (st.min == st.max == v)
            if pred.op == "<":
                return _lt(st.min, v)
            if pred.op == "<=":
                return _le(st.min, v)
            if pred.op == ">":
                return _lt(v, st.max)
            if pred.op == ">=":
                return _le(v, st.max)
        except TypeError:
            return True  # incomparable literal/stat types → cannot prune
    return True


def must_match_all(pred: Pred, stats: dict[str, "ColStats"]) -> bool:  # noqa: F821
    """True only when EVERY row of the file provably matches pred (used for
    NOT pruning). Conservative: False when unsure."""
    if isinstance(pred, AlwaysTrue):
        return True
    if isinstance(pred, (AlwaysFalse, Residual)):
        return False
    if isinstance(pred, And):
        return must_match_all(pred.left, stats) and must_match_all(pred.right, stats)
    if isinstance(pred, Or):
        return must_match_all(pred.left, stats) or must_match_all(pred.right, stats)
    if isinstance(pred, Not):
        return not may_match(pred.child, stats)
    if isinstance(pred, IsNull):
        st = stats.get(pred.col)
        return (
            st is not None
            and st.null_count is not None
            and st.value_count is not None
            and st.null_count == st.value_count
        )
    if isinstance(pred, NotNull):
        st = stats.get(pred.col)
        return st is not None and st.null_count == 0
    if isinstance(pred, In):
        st = stats.get(pred.col)
        if st is None or st.min is None or st.max is None:
            return False
        if st.null_count is None or st.null_count > 0:
            return False
        if _has_nan(st.min, st.max, *pred.values):
            return False
        # every row provably IN the set only when the file is single-valued
        # (the partition point-range encoding) and that value is listed
        try:
            return st.min == st.max and any(st.min == v for v in pred.values)
        except TypeError:
            return False
    if isinstance(pred, Comparison):
        st = stats.get(pred.col)
        if st is None or st.min is None or st.max is None:
            return False
        if st.null_count is None or st.null_count > 0:
            return False  # null rows never satisfy a comparison; None=unknown
        v = pred.value
        if _has_nan(st.min, st.max, v):
            return False
        try:
            if pred.op == "=":
                return st.min == st.max == v
            if pred.op == "!=":
                return _lt(st.max, v) or _lt(v, st.min)
            if pred.op == "<":
                return _lt(st.max, v)
            if pred.op == "<=":
                return _le(st.max, v)
            if pred.op == ">":
                return _lt(v, st.min)
            if pred.op == ">=":
                return _le(v, st.min)
        except TypeError:
            return False
    return False
