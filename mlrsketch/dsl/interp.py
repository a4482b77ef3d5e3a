"""Stream interpreter for the FULL Miller DSL (put/filter).

The Column compiler (compiler.py) handles the scalar per-record subset
as a single Catalyst projection — that is the distributed fast path.
This module executes the rest of the language — oosvars, begin/end
blocks, the emit family, for/while loops, map/array values, user
functions and subroutines, print/dump/tee — as a sequential record
stream, matching the reference's CST evaluator semantics
(/root/reference/pkg/dsl/cst/*, pkg/bifs/*).

At scale the sequential path is wrapped per-group (applyInPandas) or
per-partition (mapInPandas) by callers that can tolerate per-group
stream semantics; the golden-test runner uses it driver-side on tiny
inputs for parity with the reference's own regression corpus.

Values: Python int/float/bool/str, dict (Miller map, insertion-ordered),
list (Miller array), ABSENT (missing field), "" (void), Err ("(error)").
"""

from __future__ import annotations

import hashlib
import json
import math
import re
import threading
import zlib

from mlrsketch.dsl.parser import (
    DslSyntaxError,
    DslUnsupported,
    parse_full_program,
)


class _Absent:
    _inst = None

    def __new__(cls):
        if cls._inst is None:
            cls._inst = super().__new__(cls)
        return cls._inst

    def __repr__(self):
        return "ABSENT"


ABSENT = _Absent()


class _NullType(str):
    """MT_NULL (JSON null / the `null` literal): behaves as void ("")
    in value contexts, but prints as "null" and is not legit for =~
    (mlrval_type.go MT_NULL, dsl-regex-matching/null-reset)."""

    __slots__ = ()

    def __repr__(self):
        return "null"


NULL = _NullType("")


class Err:
    """Miller's error type; prints as (error)."""

    __slots__ = ("msg",)

    def __init__(self, msg: str = ""):
        self.msg = msg

    def __repr__(self):
        return "(error)"

    def __eq__(self, other):
        return isinstance(other, Err)

    def __hash__(self):
        return hash("(error)")


_FILTER_UNSET = object()  # FilterExpression never written this record


class MlrRuntimeError(Exception):
    """A runtime condition the reference reports as a fatal error."""


class _Break(Exception):
    pass


class _Continue(Exception):
    pass


class _Return(Exception):
    def __init__(self, value):
        self.value = value


class _Closure:
    """Anonymous `func(a,b){...}` literal bound to its defining env."""

    __slots__ = ("params", "body", "interp", "fenced")

    def __init__(self, params, body, interp, fenced=True):
        self.params = params
        self.body = body
        self.interp = interp
        # function LITERALS see the containing scope (dsl-first-class-
        # functions/aaa-setup-0006: `cap` resolves at call time); named
        # functions are fenced off from ambient locals
        self.fenced = fenced

    def __call__(self, *args):
        return self.interp._call_user(self.params, self.body, list(args),
                                      fenced=self.fenced)


# --------------------------------------------------------------------------
# type inference (record ingestion) and number formatting
# --------------------------------------------------------------------------

_OCTALISH = re.compile(r"^[+-]?0\d+$")


class PInt(int):
    """An int that remembers its data spelling (mlrval OriginalString,
    pkg/mlrval/mlrval_type.go:20-44): "+75" scans as 75 but prints back
    byte-identically. Any arithmetic yields a plain int, so only values
    never touched keep their printrep. (int is variable-length, so a
    subclass cannot declare nonempty __slots__ — instances carry a
    __dict__; these exist only transiently per record.)"""

    def __new__(cls, val, printrep):
        o = super().__new__(cls, val)
        o.printrep = printrep
        return o

    # immutable: copy/deepcopy return self; pickle rebuilds both args
    def __copy__(self):
        return self

    def __deepcopy__(self, memo):
        return self

    def __reduce__(self):
        return (type(self), (int(self), self.printrep))


class PFloat(float):
    """Float with OriginalString (see PInt); MLR_OFMT overrides it."""

    __slots__ = ("printrep",)

    def __new__(cls, val, printrep):
        o = super().__new__(cls, val)
        o.printrep = printrep
        return o

    def __copy__(self):
        return self

    def __deepcopy__(self, memo):
        return self

    def __reduce__(self):
        return (type(self), (float(self), self.printrep))


_INFER_MODE = threading.local()  # "float" (-A) / "octal" (-O) / None


def set_infer_mode(mode):
    _INFER_MODE.mode = mode


def infer_value(v):
    """Miller scan inference for a string read from data: int (decimal /
    0x / 0b), float, else string. Leading-zero integers stay strings
    (pkg/scan/type_infer.go). -A forces ints to float; -O scans
    leading-zero integers as octal."""
    if not isinstance(v, str):
        return v
    s = v
    if s[:1] == "\x00":
        # forced-string sentinel (mlrcli fill-empty -S): the
        # value IS a string regardless of its spelling
        return s[1:]
    if s == "":
        return ""
    mode = getattr(_INFER_MODE, "mode", None)
    if _OCTALISH.match(s):
        if mode == "octal":
            # -O: 0123 scans octal; 08/09 (bad octal digits) decimal
            try:
                return PInt(int(s, 8), s)
            except ValueError:
                try:
                    return PInt(int(s, 10), s)
                except ValueError:
                    return PFloat(float(s), s)
        return s
    if mode == "float":
        # -A: every number becomes a plain float — the data spelling is
        # dropped so output reformats through OFMT (dash-A golden)
        out = _infer_value_plain(s)
        if isinstance(out, (int, float)) and not isinstance(out, bool):
            return float(out)
        return out
    return _infer_value_plain(s)


def _infer_value_plain(s):
    neg = s[:1] in "+-"
    body = s[1:] if neg else s
    try:
        if body[:2].lower() == "0x":
            n = int(body, 16)
            n = -n if s[0] == "-" else n
            return PInt(n, s)
        if body[:2].lower() == "0b":
            n = int(body, 2)
            n = -n if s[0] == "-" else n
            return PInt(n, s)
        n = int(s)
        return n if str(n) == s else PInt(n, s)
    except ValueError:
        pass
    try:
        f = float(s)
    except ValueError:
        return s
    # "inf"/"nan" stay strings (no digits)
    if (f != f or f in (float("inf"), float("-inf"))) and not any(
        c.isdigit() for c in s
    ):
        return s
    canonical = str(int(f)) if f == int(f) and abs(f) < 1e15 else repr(f)
    return f if canonical == s else PFloat(f, s)


_OFMT_TLS = threading.local()


def set_ofmt(fmt: str | None):
    """Install a float output format (python %-style) for this thread —
    the analogue of MLR_OFMT, which the reference regtest harness sets
    to %.8f for every golden case (regtester.go:161)."""
    _OFMT_TLS.fmt = fmt


def current_ofmt():
    return getattr(_OFMT_TLS, "fmt", None)


def format_value(v):
    """Render a Miller value the way the reference prints it in records:
    floats drop a trailing .0 (or print through the thread's OFMT);
    bools lowercase; maps/arrays JSON."""
    if v is ABSENT:
        return None
    if v is NULL:
        return "null"
    if isinstance(v, Err):
        return "(error)"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v == float("inf"):
            return "+Inf"
        if v == float("-inf"):
            return "-Inf"
        fmt = getattr(_OFMT_TLS, "fmt", None)
        if fmt:
            return fmt % v
        pr = getattr(v, "printrep", None)
        if pr is not None:
            return pr
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, int):
        pr = getattr(v, "printrep", None)
        if pr is not None:
            return pr
        return v
    if isinstance(v, (dict, list)):
        return json_encode(v)
    return v


def json_encode(v, indent=None):
    """Hand-rolled JSON text so float rendering honors the thread OFMT
    (json.dumps' C encoder bypasses any float hook)."""

    def enc(x, level):
        if x is ABSENT:
            return '"(absent)"'
        if x is NULL:
            return "null"
        if isinstance(x, Err):
            return '"(error)"'
        if isinstance(x, bool):
            return "true" if x else "false"
        if isinstance(x, float):
            if x != x or x in (float("inf"), float("-inf")):
                return json.dumps(str(format_value(x)))
            return str(format_value(x))
        if isinstance(x, int):
            return str(x)
        if isinstance(x, dict):
            if not x:
                return "{}"
            items = [
                (json.dumps(str(format_value(k)), ensure_ascii=False),
                 enc(v2, level + 1))
                for k, v2 in x.items()
            ]
            if indent is None:
                return "{" + ", ".join(f"{k}: {s}" for k, s in items) + "}"
            pad, pad2 = " " * indent * level, " " * indent * (level + 1)
            body = ",\n".join(f"{pad2}{k}: {s}" for k, s in items)
            return "{\n" + body + "\n" + pad + "}"
        if isinstance(x, list):
            if not x:
                return "[]"
            parts = [enc(v2, level + 1) for v2 in x]
            # arrays of all-terminal elements stay on one line even in
            # multiline mode (mlrval_json.go:495-517 marshalJSONArray)
            if indent is None or not any(
                isinstance(v2, (dict, list)) for v2 in x
            ):
                return "[" + ", ".join(parts) + "]"
            pad, pad2 = " " * indent * level, " " * indent * (level + 1)
            return ("[\n" + ",\n".join(pad2 + p for p in parts)
                    + "\n" + pad + "]")
        return json.dumps(str(x) if not isinstance(x, str) else x,
                          ensure_ascii=False)

    return enc(v, 0)


def flatten_into(out: dict, key: str, v, sep: str = "."):
    """Miller auto-flatten for non-JSON writers (pkg/mlrval/flatten)."""
    if isinstance(v, dict):
        if not v:
            out[key] = "{}"
            return
        for k2, v2 in v.items():
            flatten_into(out, f"{key}{sep}{format_value(k2)}", v2, sep)
        return
    if isinstance(v, list):
        if not v:
            out[key] = "[]"
            return
        for i, v2 in enumerate(v):
            flatten_into(out, f"{key}{sep}{i + 1}", v2, sep)
        return
    out[key] = v


def _unflatten_terminal(v):
    """Reverse flatten's empty-collection special case: the literal
    strings "{}" / "[]" become empty map / empty array
    (mlrmap_flatten_unflatten.go:264-275 unflattenTerminal)."""
    if v == "{}":
        return {}
    if v == "[]":
        return []
    return v


def unflatten_record(rec: dict, sep: str = ".") -> dict:
    """Inverse of flatten for JSON-origin records: dotted keys nest."""
    out: dict = {}
    for k, v in rec.items():
        if sep in k:
            parts = k.split(sep)
            cur = out
            ok = True
            for p in parts[:-1]:
                nxt = cur.get(p)
                if nxt is None:
                    nxt = cur[p] = {}
                elif not isinstance(nxt, dict):
                    ok = False
                    break
                cur = nxt
            if ok:
                cur[parts[-1]] = _unflatten_terminal(v)
                continue
        out[k] = _unflatten_terminal(v)
    return _arrayify(out)


def _arrayify(v):
    """Maps whose keys are exactly "1".."n" become arrays (Miller
    arrayify, applied on JSON read-back of flattened arrays)."""
    if isinstance(v, dict):
        m = {k: _arrayify(x) for k, x in v.items()}
        if m and all(str(k) == str(i + 1) for i, k in enumerate(m.keys())):
            return list(m.values())
        return m
    if isinstance(v, list):
        return [_arrayify(x) for x in v]
    return v


# --------------------------------------------------------------------------
# arithmetic / comparison semantics (pkg/bifs/arithmetic.go, cmp.go)
# --------------------------------------------------------------------------


def _is_num(v):
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _to_num(v):
    """Numeric view of a value for arithmetic; None if not numeric."""
    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float)):
        return v
    return None


def _num_result(v):
    """Collapse float results that are integral back to int ONLY when
    the op was int-int (callers decide); here: canonicalize -0.0."""
    if isinstance(v, float) and v == 0.0:
        return 0.0 if math.copysign(1, v) < 0 else v
    return v


def _arith_null(op, a, b):
    """MT_NULL rows/columns of the disposition matrices
    (arithmetic.go:110-557, mathlib.go:187 pow): numbers pass through
    +,-,*,.+,.*,num/null and num.-null UNCHANGED (even minus: null-5
    is 5); null./null-paired //,%,**,./ are type errors; null with
    bool/void/string is a type error; absent wins over null."""
    aN, bN = a is NULL, b is NULL
    other = b if aN else a
    if aN and bN:
        return NULL if op in ("+", "-", "*", ".+", ".-") else Err()
    if other is ABSENT:
        return ABSENT
    if isinstance(other, (dict, list)):
        return ABSENT
    if (isinstance(other, bool) or (isinstance(other, str) and other == "")
            or (n := _to_num(other)) is None):
        return Err()
    if op in ("//", "%", "**", "./"):
        return Err()
    if bN:  # number OP null -> the number, except / keeps it too (_1___)
        return other
    # null OP number
    if op == "/":
        return 0 if isinstance(n, int) else 0.0  # _i0__ / _f0__
    if op == ".-":
        return -n  # _n2__
    return other  # +, -, *, .+, .* -> _2___


def arith(op: str, a, b):
    """Binary arithmetic with Miller dispositions for absent/void
    (pkg/bifs/arithmetic.go plus/minus/times/divide matrices,
    pkg/bifs/mathlib.go pow_dispositions)."""
    aA, bA = a is ABSENT, b is ABSENT
    aV, bV = a == "" and isinstance(a, str), b == "" and isinstance(b, str)
    if isinstance(a, (dict, list)) or isinstance(b, (dict, list)):
        # collection operands: plus/minus/times/divide yield ABSENT;
        # pow is a type error (pow_dispositions MAP/ARRAY rows)
        return Err() if op == "**" else ABSENT
    if isinstance(a, Err) or isinstance(b, Err):
        return Err()
    if a is NULL or b is NULL:
        return _arith_null(op, a, b)
    if aA and bA:
        return ABSENT
    if (aA and bV) or (aV and bA):
        return ABSENT
    if aV and bV:
        return ""
    an, bn = _to_num(a), _to_num(b)
    if aA:  # absent OP x
        if bn is None:
            return Err()
        if op == "**":
            # pow ABSENT row: _i0__/_f0__ — typed zero
            return 0 if isinstance(bn, int) else 0.0
        if op in ("/", "//", "%"):
            return 0
        return b
    if bA:  # x OP absent
        if an is None:
            return Err()
        return a
    if aV:  # void OP x
        if bn is None:
            return Err()
        if op == "**":
            return ""
        if op == "-":
            return -bn
        if op in ("/", "//", "%"):
            return ""
        return b
    if bV:
        if an is None:
            return Err()
        if op in ("/", "//", "%", "**"):
            return ""
        return a
    if an is None or bn is None:
        return Err()
    return _arith_num(op, an, bn)


_I64_MIN, _I64_MAX = -(2**63), 2**63 - 1


def _wrap64(n: int) -> int:
    return (n + 2**63) % 2**64 - 2**63


def _arith_num(op, x, y):
    both_int = isinstance(x, int) and isinstance(y, int)
    if op == "+":
        r = x + y
        if both_int and not (_I64_MIN <= r <= _I64_MAX):
            return float(x) + float(y)
        return r
    if op == "-":
        r = x - y
        if both_int and not (_I64_MIN <= r <= _I64_MAX):
            return float(x) - float(y)
        return r
    if op == "*":
        r = x * y
        if both_int and not (_I64_MIN <= r <= _I64_MAX):
            return float(x) * float(y)
        return r
    if op == ".+":
        return _wrap64(int(x) + int(y)) if both_int else x + y
    if op == ".-":
        return _wrap64(int(x) - int(y)) if both_int else x - y
    if op == ".*":
        return _wrap64(int(x) * int(y)) if both_int else x * y
    if op == "./":
        if y == 0:
            return _div0(x)
        if both_int:
            return int(x / y) if (x % y) else x // y
        return x / y
    if op == "/":
        if y == 0:
            return _div0(x)
        if both_int and x % y == 0:
            return x // y
        return x / y
    if op == "//":
        if y == 0:
            return _div0(x)
        if both_int:
            return x // y
        return float(math.floor(x / y))
    if op == "%":
        if y == 0:
            return _div0(x)
        if both_int:
            return x % y  # python % matches Miller's pythonic mod
        r = x - y * math.floor(x / y)
        return r
    if op == "**":
        # reference pow_f_ii: computed in float64, back to int if exact
        try:
            r = float(x) ** float(y)
        except (OverflowError, ValueError, ZeroDivisionError):
            return Err()
        if isinstance(r, complex):
            return Err()
        if both_int and abs(r) < 2**63:
            i = int(r)
            if float(i) == r:
                return i
        return r
    if op == "&":
        return _wrap64(int(x) & int(y)) if both_int else Err()
    if op == "|":
        return _wrap64(int(x) | int(y)) if both_int else Err()
    if op == "^":
        return _wrap64(int(x) ^ int(y)) if both_int else Err()
    if op == "<<":
        return _wrap64(int(x) << (int(y) % 64)) if both_int else Err()
    if op == ">>":
        return _wrap64(int(x) >> (int(y) % 64)) if both_int else Err()
    if op == ">>>":
        if not both_int:
            return Err()
        return _wrap64((int(x) % 2**64) >> (int(y) % 64))
    raise DslUnsupported(f"operator {op}")


def _div0(num):
    if num > 0:
        return float("inf")
    if num < 0:
        return float("-inf")
    return float("nan")


def _type_rank(v):
    """Miller's cross-type ordering for min/max/sort/comparison:
    void < numeric < boolean < string; absent highest
    (pkg/bifs/cmp.go; dsl-min-max-types: "" <= 1 is true)."""
    if isinstance(v, str):
        return -1 if v == "" else 2
    if _is_num(v):
        return 0
    if isinstance(v, bool):
        return 1
    if v is ABSENT:
        return 4
    return 3


def compare_values(a, b) -> int:
    """<=> semantics: -1/0/1. Numerics compare numerically; strings
    lexically; mixed types by type rank."""
    ra, rb = _type_rank(a), _type_rank(b)
    if ra == rb == 0:
        return -1 if a < b else (1 if a > b else 0)
    if ra == rb == 2 or {ra, rb} == {-1, 2}:
        return -1 if a < b else (1 if a > b else 0)
    if ra == rb == 1:
        ai, bi = int(a), int(b)
        return -1 if ai < bi else (1 if ai > bi else 0)
    return -1 if ra < rb else (1 if ra > rb else 0)


def cmp_op(op: str, a, b):
    if a is ABSENT or b is ABSENT:
        return ABSENT
    if isinstance(a, Err) or isinstance(b, Err):
        return Err()
    if isinstance(a, (dict, list)) or isinstance(b, (dict, list)):
        eq = collections_equal(a, b)
        if op == "==":
            return eq
        if op == "!=":
            return not eq
        return Err()
    c = compare_values(a, b)
    return {
        "<": c < 0, "<=": c <= 0, ">": c > 0, ">=": c >= 0,
        "==": c == 0, "!=": c != 0,
    }[op]


def collections_equal(a, b) -> bool:
    if isinstance(a, dict) and isinstance(b, dict):
        # map equality is KEY-SET based, insertion order irrelevant
        # (dsl-collection-equality/0012)
        if len(a) != len(b):
            return False
        for ka, va in a.items():
            if ka not in b or not _eq_scalar_or_coll(va, b[ka]):
                return False
        return True
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(
            _eq_scalar_or_coll(x, y) for x, y in zip(a, b)
        )
    return _eq_scalar_or_coll(a, b)


def _eq_scalar_or_coll(a, b):
    if isinstance(a, (dict, list)) or isinstance(b, (dict, list)):
        if type(a) is not type(b):
            return False
        return collections_equal(a, b)
    return compare_values(a, b) == 0


# --------------------------------------------------------------------------
# the interpreter
# --------------------------------------------------------------------------


class StreamInterp:
    """Executes a full Miller DSL program over an ordered record stream.

    run(records) -> list of output items, each ("rec", dict) or
    ("txt", str). Records are plain dicts whose values are Miller values
    (ints/floats/bools/strs/maps/arrays); missing key == absent.
    """

    def __init__(self, program_src: str, mode: str = "put",
                 emit_only: bool = False, presets: dict | None = None,
                 flatsep: str = ".", ofmt: str | None = None,
                 invert: bool = False, tz: str | None = None,
                 env: dict | None = None, allow_filter_stmt: bool = False):
        (_, self.funcs, self.subrs, self.begins, self.mains,
         self.ends) = parse_full_program(program_src)
        if mode == "filter" and not allow_filter_stmt:
            def has_filter_stmt(node):
                if isinstance(node, tuple):
                    if node and node[0] == "filter":
                        return True
                    return any(has_filter_stmt(s) for s in node[1:])
                if isinstance(node, list):
                    return any(has_filter_stmt(s) for s in node)
                return False

            if any(has_filter_stmt(s) for s in self.mains):
                # mlr filter 'filter ...' is a fatal in the reference
                # (dsl-context-specific-validation/0024)
                raise MlrRuntimeError(
                    'filter expressions must not also contain the '
                    '"filter" keyword'
                )
            if not self.mains and not self.begins and not self.ends:
                # dsl-empty-statements/0002: `mlr filter ''` is a fatal
                raise MlrRuntimeError("filter statement must not be empty")
        self.mode = mode
        self.emit_only = emit_only
        self.invert = invert
        self.tz = tz
        self.env_overrides = dict(env or {})
        if tz and "TZ" not in self.env_overrides:
            # mlr --tz does os.Setenv("TZ", ...) — visible via ENV
            self.env_overrides["TZ"] = tz
        self.flatsep = flatsep
        self.ofmt = ofmt
        self.oos: dict = {}
        if presets:
            self.oos.update(presets)
        self.out: list = []
        self.rec: dict | None = None
        self.nr = 0
        self.fnr = 0
        self.filename = ""
        self.filenum = 1
        self.scopes: list[dict] = []
        self.fence: list[int] = [0]
        self.filter_expr = _FILTER_UNSET

    # -- scope helpers ----------------------------------------------------

    def _push(self):
        self.scopes.append({})

    def _pop(self):
        self.scopes.pop()

    def _lookup(self, name):
        lo = self.fence[-1]
        for i in range(len(self.scopes) - 1, lo - 1, -1):
            if name in self.scopes[i]:
                return self.scopes[i][name]
        return ABSENT

    def _assign_var(self, name, val):
        lo = self.fence[-1]
        for i in range(len(self.scopes) - 1, lo - 1, -1):
            if name in self.scopes[i]:
                # typed locals re-check on EVERY assignment, not just at
                # declaration (dsl-localvar-typedecl/0002-0003,
                # dsl-argpass-typedecl/0005/0008 should-fail)
                ptype = self.scopes[i].get(_TYPES_KEY, _EMPTY).get(name)
                if ptype:
                    _coerce_decl(ptype, val)
                self.scopes[i][name] = val
                return
        if self.scopes:
            self.scopes[-1][name] = val
        else:
            raise MlrRuntimeError("assignment outside any scope")

    def _declare_var(self, name, val, ptype=None):
        if self.scopes:
            if name in self.scopes[-1]:
                # `var x = 1; var x = 2` in one scope is a fatal in the
                # reference (dsl-for-oosvar-loops/0005 et al.)
                raise MlrRuntimeError(
                    f"redefinition of variable {name} in the same scope"
                )
            self.scopes[-1][name] = val
            if ptype not in (None, "var"):
                self.scopes[-1].setdefault(_TYPES_KEY, {})[name] = ptype

    # -- record stream ----------------------------------------------------

    def run(self, records: list[dict], file_ctx: list | None = None,
            nrs: list | None = None, final_nr: int | None = None) -> list:
        """file_ctx: optional parallel list of (fnr, filename, filenum).
        nrs: per-record original input NR (upstream filters drop records
        but NR travels with each record); final_nr: the reader's last NR
        as seen by end-blocks (total records read)."""
        self.out = []
        self.err = []  # stderr channel (redirect > stderr, eprint/edump)
        self.rec = None
        self._run_block_list(self.begins)
        for i, rec in enumerate(records):
            self.nr = nrs[i] if nrs else i + 1
            if file_ctx is not None:
                self.fnr, self.filename, self.filenum = file_ctx[i]
            else:
                self.fnr = self.nr
            self.rec = rec
            self.filter_expr = _FILTER_UNSET
            self.scopes = [{}]
            self.fence = [0]
            try:
                for st in self.mains:
                    self._exec(st)
            except _Return:
                pass
            keep = self._decide_keep()
            if self.invert:
                # -x inverts the final filter boolean for BOTH put and
                # filter (put_or_filter.go:592 XORs regardless of verb)
                keep = not keep
            if keep and not self.emit_only:
                self.out.append(("rec", self.rec))
            self.rec = None
        if final_nr is not None:
            self.nr = final_nr
        self._run_block_list(self.ends)
        self._flush_pipes()
        return self.out

    def _decide_keep(self) -> bool:
        """put_or_filter.go:561-590: bool -> itself; under filter,
        absent -> drop and any other non-bool -> fatal; under put,
        non-bool (incl. never-set) -> keep."""
        fe = self.filter_expr
        if isinstance(fe, bool):
            return fe
        if self.mode == "filter" and fe is not _FILTER_UNSET:
            if fe is ABSENT:
                return False
            raise MlrRuntimeError(
                "mlr: filter expression did not evaluate to boolean: "
                f"got value {format_value(fe)}"
            )
        return True

    def _run_block_list(self, blocks):
        for blk in blocks:
            self.scopes = [{}]
            self.fence = [0]
            try:
                for st in blk:
                    self._exec(st)
            except _Return:
                pass

    # -- user functions ----------------------------------------------------

    def _call_user(self, params, body, args, fenced=True, rettype=None):
        if len(args) > len(params):
            raise MlrRuntimeError("too many arguments")
        frame = {}
        ptypes = {}
        for (ptype, pname), a in zip(params, args):
            frame[pname] = _coerce_decl(ptype, a)
            if ptype not in (None, "var"):
                ptypes[pname] = ptype
        for ptype, pname in params[len(args):]:
            frame[pname] = ABSENT
            if ptype not in (None, "var"):
                ptypes[pname] = ptype
        if ptypes:
            frame[_TYPES_KEY] = ptypes
        self.scopes.append(frame)
        self.fence.append(len(self.scopes) - 1 if fenced
                          else self.fence[-1])
        # each function call gets its own regex-captures frame
        # (runtime/state.go PushRegexCapturesFrame; dsl-regex-matching/
        # 0017: a match inside f() must not leak to the caller)
        saved_caps = getattr(self, "_captures", None)
        self._captures = None
        try:
            for st in body:
                self._exec(st)
            if rettype not in (None, "var"):
                # fall-through returns absent: fatal under a declared
                # return type (dsl-mapvars-udfs-subroutines/0011)
                raise MlrRuntimeError(
                    f"couldn't assign variable {rettype} from value "
                    "absent (absent)"
                )
            return ABSENT
        except _Return as r:
            rv = r.value if r.value is not None else ABSENT
            if rv is ABSENT and rettype not in (None, "var"):
                raise MlrRuntimeError(
                    f"couldn't assign variable {rettype} from value "
                    "absent (absent)"
                )
            # declared return type is a gate, not a cast
            # (dsl-argpass-typedecl/0003-0004, dsl-typedecl/0014)
            return _coerce_decl(rettype, rv)
        finally:
            self._captures = saved_caps
            self.fence.pop()
            self.scopes.pop()

    # -- statements --------------------------------------------------------

    def _exec(self, st):
        op = st[0]
        if op == "assign":
            self._exec_assign(st[1], st[2], st[3])
        elif op == "bare":
            # bare booleans set the filter state only under mlr filter;
            # under put they are no-ops beyond side effects
            # (cst/filter.go:29-59 writeToState = instance != put)
            v = self._eval(st[1])
            if self.mode != "put":
                self.filter_expr = v
        elif op == "filter":
            # the explicit `filter` statement writes state in BOTH verbs
            self.filter_expr = self._eval(st[1])
        elif op == "decl":
            val = self._eval(st[3]) if st[3] is not None else ABSENT
            self._declare_var(st[2], _coerce_decl(st[1], val), st[1])
        elif op == "if":
            for cond, body in st[1]:
                c = self._eval(cond)
                if c is True:
                    self._exec_block(body)
                    return
                _cond_check(c)
                if isinstance(c, str) and c == "true":
                    self._exec_block(body)
                    return
            self._exec_block(st[2])
        elif op == "while":
            while True:
                c = self._eval(st[1])
                _cond_check(c)
                if not (c is True or c == "true"):
                    break
                try:
                    self._exec_block(st[2])
                except _Break:
                    break
                except _Continue:
                    continue
        elif op == "dowhile":
            while True:
                try:
                    self._exec_block(st[1])
                except _Break:
                    break
                except _Continue:
                    pass
                c = self._eval(st[2])
                _cond_check(c)
                if not (c is True or c == "true"):
                    break
        elif op == "for_kv":
            self._exec_for_kv(st)
        elif op == "for_c":
            # ("for_c", init, cond, update, body)
            _, init, cond, update, body = st
            self._push()
            try:
                for s2 in init:
                    self._exec(s2)
                while True:
                    if cond is not None:
                        if cond[0] == "condseq":
                            # pre-continuation assignments run every
                            # iteration before the bare-boolean test
                            for s2 in cond[1]:
                                self._exec(s2)
                            c = self._eval(cond[2])
                        else:
                            c = self._eval(cond)
                        _cond_check(c)
                        if not (c is True or c == "true"):
                            break
                    try:
                        self._exec_block(body)
                    except _Break:
                        break
                    except _Continue:
                        pass
                    for s2 in update:
                        self._exec(s2)
            finally:
                self._pop()
        elif op == "break":
            raise _Break()
        elif op == "continue":
            raise _Continue()
        elif op == "return":
            raise _Return(self._eval(st[1]) if st[1] is not None else None)
        elif op == "unset":
            for t in st[1]:
                self._exec_unset(t)
        elif op == "emit":
            self._exec_emit(st[1], st[2], st[3], st[4])
        elif op == "print":
            self._exec_print(st)
        elif op == "dump":
            self._exec_dump(st)
        elif op == "tee":
            _, redir, expr = st
            sink = self._redirect_sink(redir)
            v = self._eval(expr)
            if sink == "out" and isinstance(v, dict):
                self._emit_rec(dict(v))
            elif sink == "err" and isinstance(v, dict):
                self._run_into_err(lambda: self._emit_rec(dict(v)))
            elif (isinstance(sink, tuple) and sink[0] == "pipe"
                  and isinstance(v, dict)):
                # tee | cmd: records flow through the subprocess, whose
                # stdout interleaves at end-of-stream (dsl-redirects/0010)
                self._pipe_rec(sink[1], dict(v))
        elif op == "call_subr":
            name = st[1]
            if name not in self.subrs:
                raise MlrRuntimeError(f"unknown subroutine {name}")
            params, body = self.subrs[name]
            args = [self._eval(a) for a in st[2]]
            self._call_user(params, body, args)
        elif op in ("funcdef", "subrdef"):
            pass  # hoisted at parse
        elif op in ("begin", "end"):
            raise MlrRuntimeError("nested begin/end")
        else:
            raise DslUnsupported(f"statement {op}")

    def _exec_block(self, body):
        self._push()
        try:
            for st in body:
                self._exec(st)
        finally:
            self._pop()

    def _exec_for_kv(self, st):
        _, keyvars, valvar, collexpr, body = st
        coll = self._eval(collexpr)
        if coll is ABSENT:
            return
        if isinstance(coll, dict):
            # map keys re-infer their scalar type when bound to loop
            # variables (reference: mlrmap string keys, typed iteration)
            # — EXCEPT over $*: record field names are always strings
            # (dsl-split-join-more/0007: typeof(k) is "string")
            if collexpr[0] == "fieldstar":
                items = list(coll.items())
            else:
                items = [(infer_value(k) if isinstance(k, str) else k, v)
                         for k, v in coll.items()]
            if valvar is None and len(keyvars) == 1:
                pairs = [(k, None) for k, _ in items]
            elif len(keyvars) == 1:
                pairs = items
            else:
                # multi-level key destructuring: for ((k1,k2), v in @m)
                pairs = []

                def walk(prefix, m, depth):
                    if depth == len(keyvars):
                        pairs.append((tuple(prefix), m))
                        return
                    if not isinstance(m, dict):
                        return
                    for k2, v2 in list(m.items()):
                        k2i = infer_value(k2) if isinstance(k2, str) else k2
                        walk(prefix + [k2i], v2, depth + 1)

                walk([], coll, 0)
        elif isinstance(coll, list):
            if valvar is None and len(keyvars) == 1:
                pairs = [(v, None) for v in coll]
            else:
                pairs = [(i + 1, v) for i, v in enumerate(coll)]
        else:
            # looped-over item is not a map or array: silent no-op
            # (reference cst/for.go:193 — the fatal is commented out)
            return
        broke = False
        for k, v in pairs:
            self._push()
            try:
                if len(keyvars) == 1:
                    self.scopes[-1][keyvars[0]] = k
                else:
                    for kv_name, kv_val in zip(keyvars, k):
                        self.scopes[-1][kv_name] = kv_val
                if valvar is not None:
                    self.scopes[-1][valvar] = v
                try:
                    for s2 in body:
                        self._exec(s2)
                except _Continue:
                    pass
                except _Break:
                    broke = True
            finally:
                self._pop()
            if broke:
                break

    # -- lvalues -----------------------------------------------------------

    def _exec_assign(self, aop, target, rhsexpr):
        rhs = self._eval(rhsexpr)
        if isinstance(rhs, (dict, list)):
            import copy

            rhs = copy.deepcopy(rhs)  # mlrval assignment copies
        if aop != "=":
            cur = self._eval_lvalue_current(target)
            rhs = _compound_op(aop, cur, rhs, self._eval)
            if rhs is _SKIP:
                return
        if rhs is ABSENT:
            return  # assigning absent is a no-op (reference semantics)
        self._store(target, rhs)

    def _eval_lvalue_current(self, target):
        try:
            return self._eval(target)
        except MlrRuntimeError:
            return ABSENT

    def _store(self, target, val):
        kind = target[0]
        if kind == "binop" and target[1] == ".":
            # dot-operator lvalue: $req.headers.host = v is
            # $req["headers"]["host"] = v (cst/lvalues.go:43)
            lit = _token_literal(target[3])
            if lit is None:
                raise DslUnsupported("assignment target binop")
            self._store(("index", target[2], ("str", lit)), val)
            return
        if kind == "field":
            if self.rec is None:
                raise MlrRuntimeError("$field outside record context")
            self.rec[target[1]] = val
        elif kind == "fieldexpr":
            if self.rec is None:
                raise MlrRuntimeError("$[...] outside record context")
            k = self._eval(target[1])
            if k is ABSENT:
                return
            self.rec[str(format_value(k))] = val
        elif kind == "fieldstar":
            if not isinstance(val, dict):
                raise MlrRuntimeError("$* must be assigned a map")
            if self.rec is None:
                raise MlrRuntimeError("$* outside record context")
            self.rec.clear()
            for k, v in val.items():
                self.rec[str(format_value(k))] = v
        elif kind == "oosvar":
            self.oos[target[1]] = val
        elif kind == "oosvarexpr":
            k = self._eval(target[1])
            if k is ABSENT:
                return
            self.oos[str(format_value(k))] = val
        elif kind == "oosvarstar":
            if not isinstance(val, dict):
                raise MlrRuntimeError("@* must be assigned a map")
            self.oos.clear()
            self.oos.update(val)
        elif kind == "var":
            self._assign_var(target[1], val)
        elif kind == "ctx":
            # assignments to NR/FILENAME etc.: allowed, affects locals only
            self._assign_var(target[1], val)
        elif kind == "index":
            base, idx = target[1], target[2]
            key = self._eval(idx)
            if key is ABSENT or (
                isinstance(key, list) and any(k is ABSENT for k in key)
            ):
                return  # absent index: assignment is a no-op
            container = self._container_for_write(base)
            if container is None:
                return
            _container_set(container, key, val)
        elif kind == "posname":
            # $[[n]] = "newname": RENAME the nth field (negative n
            # counts from the end)
            n = self._eval(target[1])
            if self.rec is None or not isinstance(n, int):
                return
            keys = list(self.rec.keys())
            if n < 0:
                n = len(keys) + n + 1
            if 1 <= n <= len(keys):
                old = keys[n - 1]
                newname = str(format_value(val))
                newrec = {}
                for k in keys:
                    if k == old:
                        newrec[newname] = self.rec[k]
                    elif k == newname:
                        pass  # rename collision: other field is dropped
                    else:
                        newrec[k] = self.rec[k]
                self.rec.clear()
                self.rec.update(newrec)
        elif kind == "posval":
            # $[[[n]]] = v: set the nth field's VALUE
            n = self._eval(target[1])
            if self.rec is None or not isinstance(n, int):
                return
            keys = list(self.rec.keys())
            if n < 0:
                n = len(keys) + n + 1
            if 1 <= n <= len(keys):
                self.rec[keys[n - 1]] = val
        elif kind == "posidxname":
            # X[[n]] = v on a general map inserts key str(n)
            # (dsl-array-map-indexing/0005: $*[[2]]="B" adds field "2")
            n = self._eval(target[2])
            if target[1][0] == "fieldstar":
                if self.rec is not None:
                    self.rec[str(format_value(n))] = val
            else:
                container = self._container_for_write(target[1])
                if container is not None:
                    _container_set(container, n, val)
        elif kind == "posidxval":
            # positional-value assignment through a map is a fatal in
            # the reference (dsl-array-map-indexing/0006,0007)
            raise MlrRuntimeError("positional-value assignment on map")
        elif kind == "env":
            raise DslUnsupported("assignment to ENV")
        elif kind == "index_env":
            raise DslUnsupported("assignment to ENV[...]")
        else:
            raise DslUnsupported(f"assignment target {kind}")

    def _container_for_write(self, node):
        """Resolve the container for `node[...] = v`, auto-vivifying maps
        along the path (Miller auto-deepens on assignment)."""
        kind = node[0]
        if kind == "binop" and node[1] == ".":
            lit = _token_literal(node[3])
            if lit is None:
                raise DslUnsupported("assignment target binop")
            return self._container_for_write(
                ("index", node[2], ("str", lit)))
        if kind == "field":
            if self.rec is None:
                raise MlrRuntimeError("$field outside record")
            cur = self.rec.get(node[1], ABSENT)
            if not isinstance(cur, (dict, list)):
                cur = {}
                self.rec[node[1]] = cur
            return cur
        if kind == "fieldstar":
            return self.rec
        if kind == "oosvar":
            cur = self.oos.get(node[1], ABSENT)
            if not isinstance(cur, (dict, list)):
                cur = {}
                self.oos[node[1]] = cur
            return cur
        if kind == "oosvarstar":
            return self.oos
        if kind == "oosvarexpr":
            # @["name"][...] = v: indirect oosvar, auto-vivified
            k = str(format_value(self._eval(node[1])))
            cur = self.oos.get(k, ABSENT)
            if not isinstance(cur, (dict, list)):
                cur = {}
                self.oos[k] = cur
            return cur
        if kind == "var":
            cur = self._lookup(node[1])
            if not isinstance(cur, (dict, list)):
                cur = {}
                self._assign_var(node[1], cur)
            return cur
        if kind == "index":
            if node[1][0] == "env":
                # lvalues.go:1088 — ENV["X"][...] = v is a fatal
                raise MlrRuntimeError("ENV[...] cannot be indexed")
            key = self._eval(node[2])
            if key is ABSENT:
                return None  # absent path segment: no auto-vivify
            parent = self._container_for_write(node[1])
            if parent is None:
                return None
            cur = _container_get(parent, key)
            if not isinstance(cur, (dict, list)):
                cur = {}
                _container_set(parent, key, cur)
            return cur
        if kind == "env":
            # ENV["X"] = v: lands in the override map (the reference
            # os.Setenvs; TZ changes affect later localtime calls)
            return self.env_overrides
        raise DslUnsupported(f"indexed assignment into {kind}")

    def _exec_unset(self, t):
        kind = t[0]
        if kind == "all":
            self.oos.clear()
            if self.rec is not None:
                self.rec.clear()
        elif kind == "field":
            if self.rec is not None:
                self.rec.pop(t[1], None)
        elif kind == "fieldstar":
            if self.rec is not None:
                self.rec.clear()
        elif kind == "oosvar":
            self.oos.pop(t[1], None)
        elif kind == "oosvarstar":
            self.oos.clear()
        elif kind == "var":
            lo = self.fence[-1]
            for i in range(len(self.scopes) - 1, lo - 1, -1):
                if t[1] in self.scopes[i]:
                    del self.scopes[i][t[1]]
                    return
        elif kind == "index":
            try:
                if t[1][0] == "fieldstar":
                    # $* evaluates to a COPY; unset $*["a"] must hit
                    # the live record (dsl-unset/0047)
                    parent = self.rec if self.rec is not None else ABSENT
                elif t[1][0] == "oosvarstar":
                    parent = self.oos
                else:
                    parent = self._eval(t[1])
            except MlrRuntimeError:
                return
            if parent is ABSENT:
                return
            key = self._eval(t[2])
            if isinstance(parent, dict):
                parent.pop(str(format_value(key)), None)
                if all(isinstance(k, str) for k in parent):
                    pass
            elif isinstance(parent, list) and isinstance(key, int):
                i = key - 1 if key > 0 else len(parent) + key
                if 0 <= i < len(parent):
                    del parent[i]
        elif kind == "fieldexpr":
            if self.rec is not None:
                k = self._eval(t[1])
                self.rec.pop(str(format_value(k)), None)
        elif kind in ("posname", "posval"):
            # unset $[[n]] / $[[[n]]]: remove the n-th field
            n = self._eval(t[1])
            if self.rec is not None and isinstance(n, int):
                keys = list(self.rec.keys())
                i = n - 1 if n > 0 else len(keys) + n
                if 0 <= i < len(keys):
                    del self.rec[keys[i]]
        elif kind in ("posidxname", "posidxval"):
            # unset @m[[n]] on a general map: NO-OP in the reference
            # (dsl-array-map-indexing/0035,0036 leave @m untouched)
            pass
        else:
            raise DslUnsupported(f"unset target {kind}")

    # -- expressions -------------------------------------------------------

    def _eval(self, node):
        kind = node[0]
        if kind == "str":
            return self._interpolate_captures(node[1])
        if kind in ("int", "float", "bool"):
            return node[1]
        if kind == "null":
            return NULL  # void-valued, but prints "null" / not legit
        if kind == "panic":
            # %%%panic%%% (mlr.bnf:96): must never be evaluated
            raise MlrRuntimeError("panic token evaluated")
        if kind == "regexi":
            return node[1]
        if kind == "field":
            if self.rec is None:
                return ABSENT
            return self.rec.get(node[1], ABSENT)
        if kind == "fieldexpr":
            if self.rec is None:
                return ABSENT
            k = self._eval(node[1])
            return self.rec.get(str(format_value(k)), ABSENT)
        if kind == "fieldstar":
            return dict(self.rec) if self.rec is not None else {}
        if kind == "posname":
            n = self._eval(node[1])
            if self.rec is None or not isinstance(n, int):
                return ABSENT
            keys = list(self.rec.keys())
            if n < 0:
                n = len(keys) + n + 1
            return keys[n - 1] if 1 <= n <= len(keys) else ABSENT
        if kind == "posval":
            n = self._eval(node[1])
            if self.rec is None or not isinstance(n, int):
                return ABSENT
            vals = list(self.rec.values())
            if n < 0:
                n = len(vals) + n + 1
            return vals[n - 1] if 1 <= n <= len(vals) else ABSENT
        if kind == "oosvar":
            return self.oos.get(node[1], ABSENT)
        if kind == "oosvarexpr":
            k = self._eval(node[1])
            return self.oos.get(str(format_value(k)), ABSENT)
        if kind == "oosvarstar":
            return dict(self.oos)
        if kind == "var":
            v = self._lookup(node[1])
            if v is ABSENT and node[1] in self.funcs:
                # bare user-function name as a value (dsl-sorts/
                # sortaf-within: sort(xs, forward))
                params, body, _rt = self.funcs[node[1]]
                return _Closure(params, body, self)
            return v
        if kind == "ctx":
            return self._ctx_value(node[1])
        if kind == "env":
            import os

            return {**os.environ, **self.env_overrides}
        if kind == "maplit":
            out = {}
            for kx, vx in node[1]:
                k = self._eval(kx)
                v = self._eval(vx)
                if v is ABSENT:
                    continue  # absent-valued entries are omitted
                out[str(format_value(k))] = v
            return out
        if kind == "arraylit":
            return [self._eval(x) for x in node[1]]
        if kind == "index":
            base = self._eval(node[1])
            idx = self._eval(node[2])
            return _container_get(base, idx)
        if kind == "slice":
            return self._eval_slice(node)
        if kind == "posidxname":
            base = self._eval(node[1])
            n = self._eval(node[2])
            return _pos_name(base, n)
        if kind == "posidxval":
            base = self._eval(node[1])
            n = self._eval(node[2])
            return _pos_val(base, n)
        if kind == "unop":
            return self._eval_unop(node[1], node[2])
        if kind == "binop":
            return self._eval_binop(node[1], node[2], node[3])
        if kind == "ternary":
            c = self._eval(node[1])
            if c is True or c == "true":
                return self._eval(node[2])
            if c is False or c == "false":
                return self._eval(node[3])
            if c is ABSENT:
                return ABSENT
            return Err()
        if kind == "match":
            return self._eval_match(node)
        if kind == "call":
            return self._eval_call(node[1], node[2])
        if kind == "funclit":
            return _Closure(node[1], node[2], self, fenced=False)
        raise DslUnsupported(f"expression {kind}")

    def _ctx_value(self, name):
        v = self._lookup(name)
        if v is not ABSENT:
            return v
        if name == "NR":
            return self.nr
        if name == "FNR":
            return self.fnr
        if name == "NF":
            return len(self.rec) if self.rec is not None else 0
        if name == "FILENAME":
            return self.filename
        if name == "FILENUM":
            return self.filenum
        if name == "M_PI":
            return math.pi
        if name == "M_E":
            return math.e
        if name in ("IPS", "OPS"):
            return "="
        if name in ("IFS", "OFS"):
            return ","
        if name in ("IRS", "ORS"):
            return "\n"
        if name == "FLATSEP":
            return self.flatsep
        raise DslUnsupported(f"context variable {name}")

    def _eval_slice(self, node):
        base = self._eval(node[1])
        lo = self._eval(node[2]) if node[2] is not None else None
        hi = self._eval(node[3]) if node[3] is not None else None
        if base is ABSENT:
            return ABSENT
        if isinstance(base, str):
            n = len(base)
        elif isinstance(base, list):
            n = len(base)
        else:
            return Err()
        if lo is ABSENT or hi is ABSENT:
            return ABSENT
        if lo is not None and not isinstance(lo, int):
            return Err()
        if hi is not None and not isinstance(hi, int):
            return Err()
        i = 1 if lo is None else (lo if lo > 0 else 1 if lo == 0 else n + lo + 1)
        j = n if hi is None else (hi if hi > 0 else 0 if hi == 0 else n + hi + 1)
        i = max(i, 1)
        j = min(j, n)
        if i > j:
            return "" if isinstance(base, str) else []
        return base[i - 1 : j]

    def _eval_unop(self, op, sub):
        v = self._eval(sub)
        if v is ABSENT:
            return ABSENT
        if v is NULL and op in ("-", "+", "~"):
            return NULL  # _null1 rows (arithmetic.go:28,61,860)
        if isinstance(v, Err):
            return v
        if op == "!":
            if isinstance(v, bool):
                return not v
            if v == "true":
                return False
            if v == "false":
                return True
            return Err()
        if op == "-":
            n = _to_num(v)
            if n is None:
                return Err()
            return -n
        if op == "+":
            n = _to_num(v)
            if n is None:
                return Err()
            return n
        if op == "~":
            if isinstance(v, int) and not isinstance(v, bool):
                return _wrap64(~v)
            return Err()
        raise DslUnsupported(f"unary {op}")

    def _eval_binop(self, op, ln, rn):
        if op in ("&&", "||", "^^"):
            return self._eval_logic(op, ln, rn)
        if op in ("??", "???"):
            a = self._eval(ln)
            absentish = a is ABSENT or (
                op == "???" and (isinstance(a, Err) or a == "")
            ) or (op == "??" and a == "" and isinstance(a, str))
            # ?? absent-coalescing; ??? also empty/error-coalescing
            if op == "??":
                absentish = a is ABSENT
            if absentish:
                return self._eval(rn)
            return a
        if op == ".":
            # double-purpose dot (reference cst/builtin_functions.go:551):
            # map LHS -> attribute access by the RHS token literal;
            # otherwise string concatenation
            if ln[0] == "regexi" or rn[0] == "regexi":
                # a case-insensitive regex literal is not a concatenable
                # value (dsl-regex-matching/0013: filter keeps nothing)
                return Err()
            a = self._eval(ln)
            if isinstance(a, dict):
                lit = _token_literal(rn)
                if lit is not None:
                    return a.get(lit, ABSENT)
            return _dot_concat(a, self._eval(rn))
        a = self._eval(ln)
        b = self._eval(rn)
        if op in ("+", "-", "*", "/", "//", "%", "**",
                  ".+", ".-", ".*", "./"):
            return arith(op, a, b)
        if op in ("&", "|", "^", "<<", ">>", ">>>"):
            if a is ABSENT:
                return b
            if b is ABSENT:
                return a
            if (isinstance(a, str) and a == "") or (
                isinstance(b, str) and b == ""
            ):
                return ""  # void bit-operand yields void
            an, bn = _to_num(a), _to_num(b)
            if an is None or bn is None:
                return Err()
            return _arith_num(op, an, bn)
        if op in ("<", "<=", ">", ">=", "==", "!="):
            return cmp_op(op, a, b)
        if op == "<=>":
            if a is ABSENT or b is ABSENT:
                return ABSENT
            return compare_values(a, b)
        if op in ("=~", "!=~"):
            # dynamic (non-literal) regex match
            if a is ABSENT or a is NULL:
                self._captures = None
                return a
            if b is ABSENT or b is NULL:
                self._captures = None
                return b
            s = str(format_value(a))
            pat = str(format_value(b))
            try:
                m = re.search(_go_regex(pat), s)
            except re.error:
                return Err()
            self._set_captures(m)
            found = m is not None
            return (not found) if op == "!=~" else found
        raise DslUnsupported(f"operator {op}")

    def _eval_logic(self, op, ln, rn):
        a = self._eval(ln)
        ab = _as_bool(a)
        if op == "&&":
            if ab is False:
                return False
            b = self._eval(rn)
            bb = _as_bool(b)
            if ab is True and bb is not None:
                return bb
            if a is ABSENT:
                return b if bb is not None else ABSENT
            if b is ABSENT:
                return a if ab is not None else ABSENT
            return Err()
        if op == "||":
            if ab is True:
                return True
            b = self._eval(rn)
            bb = _as_bool(b)
            if ab is False and bb is not None:
                return bb
            if a is ABSENT:
                return b if bb is not None else ABSENT
            if b is ABSENT:
                return a if ab is not None else ABSENT
            return Err()
        # ^^
        b = self._eval(rn)
        ab, bb = _as_bool(a), _as_bool(b)
        if a is ABSENT:
            return b
        if b is ABSENT:
            return a
        if ab is None or bb is None:
            return Err()
        return ab != bb

    def _eval_match(self, node):
        _, subj, pat, ci, negate = node
        s = self._eval(subj)
        if s is ABSENT or s is NULL:
            # non-legit operand: result is the operand itself, and the
            # capture state resets to never-matched (cst
            # builtin_functions.go:547 with nil captures)
            self._captures = None
            return s
        text = str(format_value(s))
        flags = re.IGNORECASE if ci else 0
        try:
            m = re.search(_go_regex(pat), text, flags)
        except re.error:
            return Err()
        self._set_captures(m)
        found = m is not None
        return (not found) if negate else found

    def _set_captures(self, m):
        """\\0..\\9 capture variables from the last =~. The state is
        ALWAYS rewritten: a failed match sets ten empty strings
        (lib/regex.go:408), a match sets the groups; only a non-legit
        operand resets to None = never-matched literal passthrough."""
        if m is None:
            self._captures = [""] * 10
            return
        caps = [m.group(0)] + [
            (m.group(i) if i <= (m.re.groups or 0) and m.group(i) is not None
             else "")
            for i in range(1, 10)
        ]
        self._captures = caps

    def _interpolate_captures(self, s: str) -> str:
        caps = getattr(self, "_captures", None)
        if caps is None or "\\" not in s:
            return s
        out = s
        for i in range(10):
            out = out.replace(f"\\{i}", str(format_value(caps[i])))
        return out

    # -- emit family -------------------------------------------------------

    def _emit_rec(self, rec: dict):
        flat = {}
        for k, v in rec.items():
            flatten_into(flat, str(format_value(k)), v, self.flatsep)
        self.out.append(("rec", flat))

    def _emittable(self, node):
        """Value + name for an emittable (reference: emittables are
        oosvars, $*, @*, map-valued locals/fieldvals, map literals,
        function returns, indexed variants)."""
        kind = node[0]
        if kind == "oosvar":
            return node[1], self.oos.get(node[1], ABSENT)
        if kind == "oosvarstar":
            return None, dict(self.oos)
        if kind == "fieldstar":
            return None, dict(self.rec) if self.rec is not None else {}
        if kind == "field":
            return node[1], (self.rec.get(node[1], ABSENT)
                             if self.rec is not None else ABSENT)
        if kind == "var":
            return node[1], self._lookup(node[1])
        if kind == "index":
            # @v[...]: name is the base name chain
            names = []
            cur = node
            while cur[0] == "index":
                names.append(cur[2])
                cur = cur[1]
            base_name, base_val = self._emittable(cur)
            names.reverse()
            keys = [str(format_value(self._eval(kx))) for kx in names]
            v = base_val
            for k in keys:
                v = _container_get(v, k) if not isinstance(v, _Absent) else ABSENT
                if v is ABSENT:
                    break
            name = base_name
            return name, v
        if kind == "call":
            # emit f(...) names the record field after the function
            return node[1], self._eval(node)
        if kind == "binop":
            # emit $a . $b: named after the leftmost named operand
            nm = self._emit_name_of(node)
            return nm, self._eval(node)
        # map literal / anything else: evaluate, no name
        return None, self._eval(node)

    def _emit_name_of(self, node):
        while node[0] == "binop":
            node = node[2]
        if node[0] in ("field", "oosvar", "var"):
            return node[1]
        if node[0] == "call":
            return node[1]
        if node[0] == "index":
            return self._emit_name_of(node[1])
        return None

    def _redirect_sink(self, redir):
        """Classify a redirect: None=default, "out"=stdout, "err"=
        stderr (kept on a separate channel — the golden expected-error
        cases compare it against experr), "drop"=file targets (not
        compared), or a ("pipe", command) sink whose output lands on
        stdout."""
        if redir is None:
            return None
        op, target = redir
        if target == ("ctx", "stdout"):
            return "out"
        if target == ("ctx", "stderr"):
            return "err"
        t = self._eval(target)  # filename/command expression
        if op == "|":
            return ("pipe", str(format_value(t)))
        return "drop"

    def _pipe_rec(self, cmd: str, rec: dict):
        """Queue a record for a pipe target (rendered in the redirect
        format, dkvp by default or `put -o json`; the command runs once
        at end-of-stream, mirroring Miller's per-target subprocess
        whose output interleaves on stdout)."""
        if not hasattr(self, "_pipes"):
            self._pipes = {}
        if getattr(self, "redirect_ofmt", None) == "json":
            self._pipes.setdefault(cmd, []).append(
                json_encode(rec, indent=2)
            )
            return
        flat: dict = {}
        for k, v in rec.items():
            flatten_into(flat, str(format_value(k)), v, self.flatsep)
        line = ",".join(
            f"{k}={'' if format_value(v) is None else format_value(v)}"
            for k, v in flat.items()
        )
        self._pipes.setdefault(cmd, []).append(line)

    def _flush_pipes(self):
        import subprocess

        for cmd, lines in getattr(self, "_pipes", {}).items():
            if getattr(self, "redirect_ofmt", None) == "json":
                text = "[\n" + ",\n".join(lines) + "\n]\n" if lines else ""
            else:
                text = "\n".join(lines) + "\n" if lines else ""
            try:
                out = subprocess.run(
                    cmd, shell=True, input=text.encode(),
                    capture_output=True, timeout=10,
                ).stdout.decode("utf-8", "replace")
            except Exception:  # noqa: BLE001 — missing tool: drop
                continue
            if out:
                self.out.append(("txt", out))
        self._pipes = {}

    def _run_into_err(self, thunk):
        """Execute thunk with self.out swapped to the stderr channel."""
        prev = self.out
        self.out = self.err
        try:
            thunk()
        finally:
            self.out = prev

    def _exec_emit(self, variant, redir, lashed, name_exprs):
        sink = self._redirect_sink(redir)
        if sink == "drop":
            for node in lashed:
                self._eval(node)  # still evaluate for side effects
            return
        if sink == "err":
            self._run_into_err(
                lambda: self._exec_emit(variant, None, lashed, name_exprs)
            )
            return
        if isinstance(sink, tuple) and sink[0] == "pipe":
            prev = self.out
            self.out = []
            try:
                self._exec_emit(variant, None, lashed, name_exprs)
                for kind, payload in self.out:
                    if kind == "rec":
                        self._pipe_rec(sink[1], payload)
            finally:
                self.out = prev
            return
        names = [str(format_value(self._eval(nx))) for nx in name_exprs]
        if variant == "emitf":
            rec = {}
            for node in lashed:
                nm, v = self._emittable(node)
                if nm is None:
                    raise MlrRuntimeError("emitf needs named variables")
                if v is not ABSENT:
                    rec[nm] = v
            if rec:
                self._emit_rec(rec)
            return
        if variant == "emit1":
            _, v = self._emittable(lashed[0])
            if isinstance(v, dict):
                self._emit_rec(dict(v))
            return
        if (
            variant in ("emit", "emitp")
            and len(lashed) == 1
            and lashed[0][0] == "oosvarstar"
        ):
            # emit @* / emit all: each oosvar emits independently in
            # order (dsl-emit-basic-indexing 0053..0075); with index
            # names, a single non-map oosvar suppresses the whole emit
            # (dsl-parameterized-emit/0058..0060)
            all_pairs = [(str(format_value(k)), v)
                         for k, v in self.oos.items()]
            if names and any(not isinstance(v, dict) for _, v in all_pairs):
                return
            for k, v in all_pairs:
                if variant == "emit":
                    if names:
                        self._emit_plain([(k, v)], names)
                    else:
                        self._emit_split(k, v, {})
                else:
                    self._emitp([(k, v)], names)
            return
        if (
            variant in ("emit", "emitp")
            and names
            and len(lashed) == 1
            and lashed[0][0] == "fieldstar"
        ):
            # emit $*, "name": $* explodes into per-field lashed
            # emittables (EMITX_NAMELESS_NODE_TYPES); with index names
            # the scalar-valued leading entry makes indexed-lashed a
            # no-op (dsl-redirects/0127,0128: empty expout)
            rec = dict(self.rec) if self.rec is not None else {}
            if any(not isinstance(v, dict) for v in rec.values()):
                return
            pairs2 = [(str(format_value(k)), v) for k, v in rec.items()]
            if variant == "emit":
                self._emit_plain(pairs2, names)
            else:
                self._emitp(pairs2, names)
            return
        if (
            variant == "emit"
            and not names
            and len(lashed) == 1
            and lashed[0][0] == "maplit"
        ):
            # emit of a map LITERAL: every top-level entry is its own
            # emittable — scalars/arrays keep their key, maps recurse
            # (dsl-slice/0001: 22 one-field records from 4 emits)
            m = self._eval(lashed[0])
            for k, v in m.items():
                self._emit_split(str(format_value(k)), v, {})
            return
        pairs = [self._emittable(node) for node in lashed]
        if len(pairs) > 1 and any(v is ABSENT for _, v in pairs):
            # lashed list with an absent member: nothing is emitted
            # (dsl-lashed-emitp-singles/0037..0048)
            return
        pairs = [(nm, v) for nm, v in pairs if v is not ABSENT]
        if not pairs:
            return
        if variant == "emitp":
            self._emitp(pairs, names)
        else:
            self._emit_plain(pairs, names)

    def _emitp(self, pairs, names):
        """emitp: keep the full prefix — one record per key-combo of the
        leading `names` levels; each emittable's residual subtree lands
        under ITS NAME as a map value (auto-flattened at write with the
        output flatsep): dsl-emit/0004,0008,0013,0021."""

        def walk(residuals, names_left, idx, depth):
            if names_left and all(isinstance(v, dict) for _, v in residuals):
                nm = names_left[0]
                first = residuals[0][1]
                for k in first:
                    nxt = [
                        (n2, v2[k]) for n2, v2 in residuals
                        if isinstance(v2, dict) and k in v2
                    ]
                    if nxt:
                        walk(nxt, names_left[1:], {**idx, nm: k}, depth + 1)
                return
            rec = dict(idx)
            for n2, v2 in residuals:
                if n2 is None:
                    continue  # emitp of an unnamed emittable: no-op
                if depth == 0 and names_left:
                    # unconsumed index names at the top: nothing emits
                    # (dsl-parameterized-emit/0021,0058; deeper scalars
                    # keep emitting with extra names ignored — 0075)
                    continue
                rec[n2] = v2
            if rec:
                self._emit_rec(rec)

        walk(pairs, names, {}, 0)

    def _emit_plain(self, pairs, names):
        """emit (non-p): without names, each emittable splits into one
        bare-key record per map-of-scalars level (dsl-emit/0006,0010);
        with names, each key-combo yields one record whose residual
        flattens with the output flatsep, oosvar name dropped
        (dsl-prefixed-unprefixed-emit/0016, dsl-emit/0013-want-shape),
        scalars landing under their emittable's name (0030)."""
        if not names:
            if len(pairs) > 1 and all(
                not isinstance(v, (dict, list)) for _, v in pairs
            ):
                # lashed scalars: one merged record (dsl-emit/0009)
                rec = {}
                for n2, v2 in pairs:
                    rec[n2 if n2 is not None else "value"] = v2
                self._emit_rec(rec)
                return
            for n2, v2 in pairs:
                self._emit_split(n2, v2, {})
            return

        # -- with index names: mirror the reference executors exactly
        # (cst/emit_emitp.go:792 executeIndexedNonLashedEmitAux,
        # :1011 ...EmitPAux, :940 ...LashedEmitAux)

        def emitp_indexed(template, name, m, names_left):
            # below the first index level the non-lashed EMIT switches
            # to emitP semantics: residual lands UNDER the emittable
            # name and flattens with it as prefix ("sum.hatwye")
            nm = names_left[0]
            for k, v in m.items():
                rec = {**template, nm: k}
                if len(names_left) > 1 and isinstance(v, dict):
                    emitp_indexed(rec, name, v, names_left[1:])
                else:
                    if v is not ABSENT:
                        rec[name] = v
                    self._emit_rec(rec)

        def emit_nonlashed(name, m, names_left, idx):
            nm = names_left[0]
            for k, v in m.items():
                rec = {**idx, nm: k}
                if len(names_left) == 1:
                    if isinstance(v, dict):
                        for k2, v2 in v.items():  # one-level bare unwrap
                            rec[k2] = v2
                    elif v is not ABSENT:
                        rec[name if name is not None else "value"] = v
                    self._emit_rec(rec)
                elif isinstance(v, dict):
                    emitp_indexed(rec, name, v, names_left[1:])
                else:
                    if v is not ABSENT:
                        rec[name if name is not None else "value"] = v
                    self._emit_rec(rec)

        def emit_lashed(residuals, names_left, idx):
            nm = names_left[0]
            lead = residuals[0][1]
            if not isinstance(lead, dict):
                return
            for k, vlead in lead.items():
                rec = {**idx, nm: k}
                ks = str(format_value(k))
                nxt = []
                for n2, v2 in residuals:
                    if isinstance(v2, dict):
                        x = v2.get(k, v2.get(ks, None))
                    else:
                        x = None
                    nxt.append((n2, x))
                lead_next = nxt[0][1]
                if len(names_left) > 1 and isinstance(lead_next, dict):
                    # recursion carries only the map-valued residuals
                    emit_lashed(
                        [(n2, x if isinstance(x, dict) else None)
                         for n2, x in nxt],
                        names_left[1:], rec,
                    )
                else:
                    for n2, x in nxt:
                        if x is None or x is ABSENT:
                            continue
                        if isinstance(x, dict):
                            rec.update(x)  # one-level merge, later wins
                        elif n2 is not None:
                            rec[n2] = x
                    self._emit_rec(rec)

        if len(pairs) > 1:
            emit_lashed(pairs, names, {})
            return
        name, top = pairs[0]
        if isinstance(top, dict):
            emit_nonlashed(name, top, names, {})

    def _merge_leaves(self, rec, v):
        """Collapse a subtree's leaf maps into rec with bare keys."""
        if isinstance(v, dict):
            for k, x in v.items():
                if isinstance(x, dict):
                    self._merge_leaves(rec, x)
                else:
                    rec[str(format_value(k))] = x
        else:
            pass

    def _emit_split(self, name, v, idx):
        """Single non-prefixed emittable: descend past intermediate map
        levels, emitting each map-of-scalars as one bare-key record.
        Array-valued entries emit as their own record KEEPING their key
        (dsl-slice/0001); map-valued entries recurse with key dropped
        (dsl-emit/0006)."""
        if isinstance(v, dict):
            map_children = [(k, x) for k, x in v.items() if isinstance(x, dict)]
            scalars = {
                str(format_value(k)): x
                for k, x in v.items()
                if not isinstance(x, dict)
            }
            if map_children:
                if scalars:
                    self._emit_rec({**idx, **scalars})
                for _k, x in map_children:
                    self._emit_split(name, x, idx)
                return
            if scalars:
                self._emit_rec({**idx, **scalars})
            return
        if v is ABSENT:
            return
        if name is None:
            return  # unnamed scalar emittable: nothing to emit
        self._emit_rec({**idx, name: v})

    # -- print / dump ------------------------------------------------------

    def _exec_print(self, st):
        _, where, redir, expr, nl = st
        sink = self._redirect_sink(redir) if redir is not None else None
        if sink == "drop":
            if expr is not None:
                self._eval(expr)
            return
        if sink == "err" or where == "err":
            self._run_into_err(
                lambda: self._exec_print(("print", "out", None, expr, nl))
            )
            return
        def render(v):
            if isinstance(v, (dict, list)):
                return dump_text(v)
            fv = format_value(v)
            return "" if fv is None else str(fv)

        if expr is not None and expr[0] == "printargs":
            text = " ".join(render(self._eval(x)) for x in expr[1])
        else:
            text = render(self._eval(expr) if expr is not None else "")
        self.out.append(("txt", text + ("\n" if nl else "")))

    def _exec_dump(self, st):
        _, where, redir, expr = st
        sink = self._redirect_sink(redir) if redir is not None else None
        if sink == "drop":
            if expr is not None:
                self._eval(expr)
            return
        if sink == "err" or where == "err":
            self._run_into_err(
                lambda: self._exec_dump(("dump", "out", None, expr))
            )
            return
        exprs = (expr[1] if expr is not None and expr[0] == "printargs"
                 else [expr])
        for ex in exprs:
            v = self._eval(ex) if ex is not None else dict(self.oos)
            if v is ABSENT:
                continue  # dump of an absent variable prints nothing
            self.out.append(("txt", dump_text(v) + "\n"))

    # -- function calls ----------------------------------------------------

    def _eval_call(self, fname, argnodes):
        if fname in self.funcs:
            params, body, rettype = self.funcs[fname]
            args = [self._eval(a) for a in argnodes]
            return self._call_user(params, body, args, rettype=rettype)
        fn = BUILTINS.get(fname)
        if fn is None:
            clos = self._lookup(fname)
            if isinstance(clos, _Closure):
                return clos(*[self._eval(a) for a in argnodes])
            raise DslUnsupported(f"function {fname}")
        return fn(self, [self._eval(a) for a in argnodes], argnodes)


# --------------------------------------------------------------------------
# helpers used by statements
# --------------------------------------------------------------------------

_SKIP = object()


def _cond_check(c):
    """Conditions must be boolean: the reference fatals on a numeric,
    string, or collection condition (dsl-line-number-column-number/
    cond). Absent and error skip the arm (kept permissive: both arise
    from missing fields in heterogeneous data)."""
    if c is True or c is False or c is ABSENT or isinstance(c, Err):
        return
    if isinstance(c, str) and c in ("true", "false"):
        return
    raise MlrRuntimeError(
        "conditional expression did not evaluate to boolean"
    )


def _compound_op(aop, cur, rhs, eval_fn):
    op = aop[:-1]  # strip trailing "="
    if op in ("&&", "||", "^^"):
        a, b = _as_bool(cur), _as_bool(rhs)
        if a is None or b is None:
            return Err()
        return {"&&": a and b, "||": a or b, "^^": a != b}[op]
    if op == "??":
        return rhs if cur is ABSENT else _SKIP
    if op == "???":
        return rhs if (cur is ABSENT or isinstance(cur, Err) or cur == "") else _SKIP
    if op == ".":
        return _dot_concat(cur, rhs)
    if op in ("&", "|", "^", "<<", ">>", ">>>"):
        if cur is ABSENT:
            return rhs
        an, bn = _to_num(cur), _to_num(rhs)
        if an is None or bn is None:
            return Err()
        return _arith_num(op, an, bn)
    return arith(op, cur, rhs)


def _as_bool(v):
    if isinstance(v, bool):
        return v
    if v == "true":
        return True
    if v == "false":
        return False
    return None


def _dot_concat(a, b):
    if a is ABSENT and b is ABSENT:
        return ABSENT
    if isinstance(a, Err) or isinstance(b, Err):
        return Err()
    sa = "" if a is ABSENT else str(format_value(a))
    sb = "" if b is ABSENT else str(format_value(b))
    return sa + sb


def _token_literal(node):
    """The raw token text of a simple AST node, mirroring the
    reference's tokenLit for dot-operator map access."""
    kind = node[0]
    if kind == "var":
        return node[1]
    if kind == "str":
        return node[1]
    if kind in ("int", "float", "bool"):
        return str(format_value(node[1]))
    if kind == "field":
        return node[1]
    return None


def _pos_name(base, n):
    if base is ABSENT or not isinstance(n, int) or isinstance(n, bool):
        return ABSENT
    if isinstance(base, dict):
        keys = list(base.keys())
        i = n - 1 if n > 0 else len(keys) + n
        if 0 <= i < len(keys):
            k = keys[i]
            return infer_value(k) if isinstance(k, str) else k
        return ABSENT
    if isinstance(base, list):
        i = n - 1 if n > 0 else len(base) + n
        if 0 <= i < len(base):
            return i + 1  # the "name" of an array slot is its index
        return ABSENT
    return ABSENT


def _pos_val(base, n):
    if base is ABSENT or not isinstance(n, int) or isinstance(n, bool):
        return ABSENT
    if isinstance(base, dict):
        vals = list(base.values())
        i = n - 1 if n > 0 else len(vals) + n
        return vals[i] if 0 <= i < len(vals) else ABSENT
    if isinstance(base, list):
        i = n - 1 if n > 0 else len(base) + n
        return base[i] if 0 <= i < len(base) else ABSENT
    return ABSENT


def _container_get(base, idx):
    if isinstance(idx, list):
        # array-valued index = deep path: m[["a","b"]] == m["a"]["b"]
        cur = base
        for k in idx:
            if isinstance(k, list):
                return Err()
            cur = _container_get(cur, k)
            if cur is ABSENT:
                return ABSENT
        return cur
    return _container_get_one(base, idx)


def _container_get_one(base, idx):
    if base is ABSENT:
        return ABSENT
    if isinstance(base, dict):
        if idx is ABSENT:
            return ABSENT
        return base.get(str(format_value(idx)), ABSENT)
    if isinstance(base, list):
        if not isinstance(idx, int) or isinstance(idx, bool):
            return Err() if idx is not ABSENT else ABSENT
        n = len(base)
        i = idx - 1 if idx > 0 else n + idx
        if 0 <= i < n:
            return base[i]
        return ABSENT
    if isinstance(base, str):
        if not isinstance(idx, int) or isinstance(idx, bool):
            return Err() if idx is not ABSENT else ABSENT
        n = len(base)
        i = idx - 1 if idx > 0 else n + idx
        if 0 <= i < n:
            return base[i]
        return Err()
    return Err()


def _container_set(container, key, val):
    if isinstance(key, list):
        # deep-path assignment with auto-vivification:
        # m[["a","b"]] = v  ==  m["a"]["b"] = v
        cur = container
        for k in key[:-1]:
            nxt = _container_get_one(cur, k)
            if not isinstance(nxt, (dict, list)):
                nxt = {}
                _container_set(cur, k, nxt)
            cur = nxt
        _container_set(cur, key[-1] if key else "", val)
        return
    if isinstance(container, dict):
        container[str(format_value(key))] = val
        return
    if isinstance(container, list):
        if not isinstance(key, int) or isinstance(key, bool):
            raise MlrRuntimeError("array index must be int")
        n = len(container)
        i = key - 1 if key > 0 else n + key
        if 0 <= i < n:
            container[i] = val
        elif key > 0:
            # positive past-end assignment auto-lengthens, null-filling
            # the gap (mlrval_collections.go LengthenMlrvalArray;
            # dsl-begin-end/0007: @sum[2] += $x on an empty array)
            container.extend([NULL] * (key - n))
            container[key - 1] = val
        elif key == 0:
            raise MlrRuntimeError(
                "zero indices are not supported. Indices are 1-up"
            )
        else:
            raise MlrRuntimeError(
                "cannot use negative indices to auto-lengthen arrays"
            )
        return
    raise MlrRuntimeError("cannot index this type")


_TYPES_KEY = "\x00types"  # reserved frame slot: declared local types
_EMPTY: dict = {}

_DECL_CHECKS = {
    "str": lambda v: isinstance(v, str),
    "num": lambda v: _is_num(v),
    "int": lambda v: isinstance(v, int) and not isinstance(v, bool),
    "float": lambda v: isinstance(v, float),
    "bool": lambda v: isinstance(v, bool),
    "map": lambda v: isinstance(v, dict),
    "arr": lambda v: isinstance(v, list),
    "funct": lambda v: isinstance(v, _Closure) or callable(v),
}


def _coerce_decl(ptype, val):
    """Typed declarations/parameters: the reference FATALS on a type
    mismatch (dsl-argpass-typedecl, dsl-typedecl should-fail suites).
    Absent passes (unfilled optional parameter)."""
    if ptype is None or val is ABSENT:
        return val
    if ptype == "var":
        # MT_TYPE_MASK_VAR (mlrval_type.go:175-184) excludes error:
        # `var b = <error>` is a fatal, not an error-value store
        if isinstance(val, Err):
            raise MlrRuntimeError(
                f"couldn't assign variable {ptype} from value "
                f"{mlr_typeof(val)} {format_value(val)}"
            )
        return val
    check = _DECL_CHECKS.get(ptype)
    if check and not check(val):
        raise MlrRuntimeError(
            f"couldn't assign variable {ptype} from value "
            f"{mlr_typeof(val)} {format_value(val)}"
        )
    return val


_GO_RE_CLASSES = {
    r"\d": r"\d", r"\D": r"\D", r"\w": r"\w", r"\W": r"\W",
    r"\s": r"\s", r"\S": r"\S", r"\b": r"\b", r"\B": r"\B",
}


def _go_regex(pat: str) -> str:
    """Go regexp (RE2) -> Python re. The subset in the corpus is shared
    syntax; named classes like [:alpha:] need translation."""
    out = pat
    for posix, py in (
        ("[:alpha:]", "a-zA-Z"), ("[:digit:]", "0-9"),
        ("[:alnum:]", "a-zA-Z0-9"), ("[:upper:]", "A-Z"),
        ("[:lower:]", "a-z"), ("[:space:]", r" \t\r\n\v\f"),
        ("[:punct:]", re.escape(r"""!"#$%&'()*+,-./:;<=>?@[\]^_`{|}~""")),
        ("[:xdigit:]", "0-9a-fA-F"),
    ):
        out = out.replace(posix, py)
    return out


# --------------------------------------------------------------------------
# builtin function library (reference: pkg/bifs/*, docs
# reference-dsl-builtin-functions.md). Signature: fn(interp, args, raw).
# --------------------------------------------------------------------------


def _absentify(fn):
    """Most scalar builtins: absent in -> absent out, error propagates."""

    def wrap(it, args, raw):
        for a in args:
            if a is ABSENT:
                return ABSENT
            if isinstance(a, Err):
                return a
        return fn(it, args, raw)

    return wrap


def _s(v) -> str:
    """Scalar string view; collections are a type error in scalar
    builtin contexts (strlen($*) is (error) in the reference)."""
    if isinstance(v, (dict, list)):
        raise _TypeErr()
    fv = format_value(v)
    return "" if fv is None else str(fv)


def _need_num(v):
    n = _to_num(v)
    if n is None:
        raise _TypeErr()
    return n


class _TypeErr(Exception):
    pass


def _guard(fn):
    def wrap(it, args, raw):
        try:
            return fn(it, args, raw)
        except _TypeErr:
            return Err()
        except (TypeError, ValueError, IndexError, KeyError):
            return Err()

    return wrap


def _reg(table, name):
    def dec(fn):
        table[name] = _guard(fn)
        return fn

    return dec


BUILTINS: dict = {}


def _simple(name, nargs=None, absent_propagates=True):
    def dec(py_fn):
        def impl(it, args, raw):
            return py_fn(*args)

        f = _absentify(impl) if absent_propagates else impl
        BUILTINS[name] = _guard(f)
        return py_fn

    return dec


# ---- math ----------------------------------------------------------------

for _nm, _f in [
    ("abs", abs), ("ceiling", math.ceil), ("ceil", math.ceil),
    ("floor", math.floor), ("round", lambda x: float(round(x)) if isinstance(x, float) else round(x)),
    ("sgn", lambda x: (x > 0) - (x < 0) if isinstance(x, int) else float((x > 0) - (x < 0)) if x == x else float("nan")),
    ("exp", math.exp), ("expm1", math.expm1),
    ("log", math.log), ("log10", math.log10), ("log1p", math.log1p),
    ("sqrt", math.sqrt), ("cbrt", lambda x: math.copysign(abs(x) ** (1 / 3), x)),
    ("sin", math.sin), ("cos", math.cos), ("tan", math.tan),
    ("asin", math.asin), ("acos", math.acos), ("atan", math.atan),
    ("sinh", math.sinh), ("cosh", math.cosh), ("tanh", math.tanh),
    ("asinh", math.asinh), ("acosh", math.acosh), ("atanh", math.atanh),
    ("erf", math.erf), ("erfc", math.erfc),
]:
    def _mk(f=_f, nm=_nm):
        def impl(it, args, raw):
            x = _need_num(args[0])
            r = f(x)
            if nm in ("abs", "ceiling", "ceil", "floor", "round", "sgn") and isinstance(x, int):
                return int(r)
            if nm in ("ceiling", "ceil", "floor", "round") and isinstance(x, float):
                return float(r)
            return r

        return _guard(_absentify(impl))

    BUILTINS[_nm] = _mk()


@_reg(BUILTINS, "atan2")
@_absentify
def _bif_atan2(it, args, raw):
    return math.atan2(_need_num(args[0]), _need_num(args[1]))


@_reg(BUILTINS, "pow")
@_absentify
def _bif_pow(it, args, raw):
    return _arith_num("**", _need_num(args[0]), _need_num(args[1]))


@_reg(BUILTINS, "roundm")
@_absentify
def _bif_roundm(it, args, raw):
    x, m = _need_num(args[0]), _need_num(args[1])
    r = round(x / m) * m
    if isinstance(x, int) and isinstance(m, int):
        return int(r)
    return float(r)


@_reg(BUILTINS, "truncate")
@_absentify
def _bif_truncate(it, args, raw):
    s, n = args[0], args[1]
    if not isinstance(s, str):
        s = _s(s)
    if not isinstance(n, int):
        raise _TypeErr()
    return s[:n]


def _minmax_rank(v):
    """Miller min/max collation (bifs/arithmetic.go min/max
    dispositions): numerics < booleans < void < strings."""
    if _is_num(v):
        return 0
    if isinstance(v, bool):
        return 1
    if isinstance(v, str) and v == "":
        return 2
    return 3


def _minmax_pick(args, want_max):
    vals, nulls = [], 0
    for a in args:
        if a is ABSENT:
            continue
        if a is NULL:
            nulls += 1
            continue
        if isinstance(a, Err):
            return a
        vals.append(a)
    if not vals:
        return NULL if nulls else ABSENT
    if want_max and nulls:
        return NULL  # max(x, null) is null (max_dispositions _null row)
    best = vals[0]
    for v in vals[1:]:
        ra, rb = _minmax_rank(v), _minmax_rank(best)
        if ra != rb:
            take = ra > rb if want_max else ra < rb
        else:
            c = compare_values(v, best)
            take = c > 0 if want_max else c < 0
        if take:
            best = v
    if (
        isinstance(best, int)
        and not isinstance(best, bool)
        and any(isinstance(v, float) for v in vals)
    ):
        # int×float mixing returns FLOAT (max_f_fi/max_f_if,
        # arithmetic.go:905-915): max(71.2, 76) prints 76.00000000
        return float(best)
    return best


@_reg(BUILTINS, "min")
def _bif_min(it, args, raw):
    return _minmax_pick(args, want_max=False)


@_reg(BUILTINS, "max")
def _bif_max(it, args, raw):
    return _minmax_pick(args, want_max=True)


@_reg(BUILTINS, "int")
@_absentify
def _bif_int(it, args, raw):
    v = args[0]
    if len(args) > 1:
        # int(x, base): explicit-radix parse (dsl-int-function/0002+)
        base = args[1]
        if not isinstance(base, int) or isinstance(base, bool):
            return Err()
        try:
            return int(str(format_value(v)).strip(), base)
        except (ValueError, TypeError):
            return Err()
    if isinstance(v, bool):
        return 1 if v else 0
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        if v != v or v in (float("inf"), float("-inf")):
            return Err()
        return int(v)
    if isinstance(v, str):
        iv = infer_value(v)
        if isinstance(iv, bool) or not isinstance(iv, (int, float)):
            # explicit int() uses Go strconv base-0 rules: 0x hex,
            # 0b binary, and LEADING-ZERO OCTAL ("0377" -> 255,
            # dsl-int-function/0001) — unlike record inference, which
            # keeps leading-zero values as strings
            s = v.strip()
            if re.fullmatch(r"[+-]?0[0-7]+", s):
                return int(s, 8)
            try:
                return int(s, 0)
            except ValueError:
                try:
                    return int(s, 10)
                except ValueError:
                    return Err()
        return int(iv)
    return Err()


@_reg(BUILTINS, "float")
@_absentify
def _bif_float(it, args, raw):
    v = args[0]
    if isinstance(v, bool):
        return 1.0 if v else 0.0
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, str):
        try:
            return float(v)
        except ValueError:
            try:
                return float(int(v, 0))
            except ValueError:
                return Err()
    return Err()


@_reg(BUILTINS, "boolean")
@_absentify
def _bif_boolean(it, args, raw):
    v = args[0]
    if isinstance(v, bool):
        return v
    if v == "true":
        return True
    if v == "false":
        return False
    return Err()


@_reg(BUILTINS, "string")
def _bif_string(it, args, raw):
    if args[0] is ABSENT:
        # mlrval ABSENT String() is "(absent)" (mlrval_type.go:66)
        return "(absent)"
    return _s(args[0])


@_reg(BUILTINS, "hexfmt")
@_absentify
def _bif_hexfmt(it, args, raw):
    v = args[0]
    if isinstance(v, int) and not isinstance(v, bool):
        return "0x%x" % (v % 2**64 if v < 0 else v)
    return v


@_reg(BUILTINS, "bitcount")
@_absentify
def _bif_bitcount(it, args, raw):
    return bin(int(args[0]) % 2**64).count("1")


@_reg(BUILTINS, "madd")
@_absentify
def _bif_madd(it, args, raw):
    a, b, m = (_need_num(x) for x in args)
    return int(a + b) % int(m)


@_reg(BUILTINS, "msub")
@_absentify
def _bif_msub(it, args, raw):
    a, b, m = (_need_num(x) for x in args)
    return int(a - b) % int(m)


@_reg(BUILTINS, "mmul")
@_absentify
def _bif_mmul(it, args, raw):
    a, b, m = (_need_num(x) for x in args)
    return int(a * b) % int(m)


@_reg(BUILTINS, "mexp")
@_absentify
def _bif_mexp(it, args, raw):
    a, b, m = (_need_num(x) for x in args)
    if int(b) < 0:
        return Err()
    return pow(int(a), int(b), int(m))


@_reg(BUILTINS, "logifit")
@_absentify
def _bif_logifit(it, args, raw):
    x, m, b = (_need_num(v) for v in args)
    return 1.0 / (1.0 + math.exp(-m * x - b))


@_reg(BUILTINS, "invqnorm")
@_absentify
def _bif_invqnorm(it, args, raw):
    # Acklam's rational approximation (public domain), as the reference
    p = _need_num(args[0])
    if p <= 0 or p >= 1:
        return 0.0
    a = [-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
         1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00]
    b = [-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
         6.680131188771972e+01, -1.328068155288572e+01]
    c = [-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
         -2.549732539343734e+00, 4.374664141464968e+00, 2.938163982698783e+00]
    d = [7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00,
         3.754408661907416e+00]
    plow, phigh = 0.02425, 1 - 0.02425
    if p < plow:
        q = math.sqrt(-2 * math.log(p))
        return (((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5]) / \
               ((((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1)
    if p > phigh:
        q = math.sqrt(-2 * math.log(1 - p))
        return -(((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5]) / \
               ((((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1)
    q = p - 0.5
    r = q * q
    return (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4]) * r + a[5]) * q / \
           (((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r + 1)


@_reg(BUILTINS, "qnorm")
@_absentify
def _bif_qnorm(it, args, raw):
    x = _need_num(args[0])
    return 0.5 * math.erfc(-x / math.sqrt(2))


# ---- strings -------------------------------------------------------------


@_reg(BUILTINS, "strlen")
@_absentify
def _bif_strlen(it, args, raw):
    return len(_s(args[0]))


@_reg(BUILTINS, "toupper")
@_absentify
def _bif_toupper(it, args, raw):
    v = args[0]
    return v.upper() if isinstance(v, str) else v


@_reg(BUILTINS, "tolower")
@_absentify
def _bif_tolower(it, args, raw):
    v = args[0]
    return v.lower() if isinstance(v, str) else v


@_reg(BUILTINS, "capitalize")
@_absentify
def _bif_capitalize(it, args, raw):
    v = args[0]
    if isinstance(v, str) and v:
        return v[0].upper() + v[1:]
    return v


@_reg(BUILTINS, "lstrip")
@_absentify
def _bif_lstrip(it, args, raw):
    v = args[0]
    return v.lstrip(" \t") if isinstance(v, str) else v


@_reg(BUILTINS, "rstrip")
@_absentify
def _bif_rstrip(it, args, raw):
    v = args[0]
    return v.rstrip(" \t") if isinstance(v, str) else v


@_reg(BUILTINS, "strip")
@_absentify
def _bif_strip(it, args, raw):
    v = args[0]
    return v.strip(" \t") if isinstance(v, str) else v


@_reg(BUILTINS, "clean_whitespace")
@_absentify
def _bif_clean_ws(it, args, raw):
    v = args[0]
    if isinstance(v, str):
        return re.sub(r"\s+", " ", v).strip()
    return v


@_reg(BUILTINS, "collapse_whitespace")
@_absentify
def _bif_collapse_ws(it, args, raw):
    v = args[0]
    return re.sub(r"\s+", " ", v) if isinstance(v, str) else v


@_reg(BUILTINS, "contains")
@_absentify
def _bif_contains(it, args, raw):
    return _s(args[1]) in _s(args[0])


@_reg(BUILTINS, "index")
@_absentify
def _bif_index(it, args, raw):
    # 1-based byte index; -1 if not found (reference strings.go)
    s, t = _s(args[0]), _s(args[1])
    i = s.find(t)
    return i + 1 if i >= 0 else -1


@_reg(BUILTINS, "ssub")
@_absentify
def _bif_ssub(it, args, raw):
    s, frm, to = _s(args[0]), _s(args[1]), _s(args[2])
    return s.replace(frm, to, 1)


@_reg(BUILTINS, "gssub")
@_absentify
def _bif_gssub(it, args, raw):
    s, frm, to = _s(args[0]), _s(args[1]), _s(args[2])
    return s.replace(frm, to)


def _re_replacement(to: str) -> str:
    r"""Miller replacement: \1..\9 backrefs; literal \ otherwise."""
    out = []
    i = 0
    while i < len(to):
        c = to[i]
        if c == "\\" and i + 1 < len(to) and to[i + 1].isdigit():
            out.append("\\" + to[i + 1])
            i += 2
            continue
        if c == "\\" and i + 1 < len(to):
            out.append(re.escape(to[i + 1]) if to[i + 1] != "\\" else "\\\\")
            i += 2
            continue
        out.append(c.replace("\\", "\\\\"))
        i += 1
    return "".join(out)


@_reg(BUILTINS, "sub")
@_absentify
def _bif_sub(it, args, raw):
    s, pat, to = _s(args[0]), _s(args[1]), _s(args[2])
    if raw and len(raw) > 1 and raw[1][0] == "regexi":
        return re.sub(_go_regex(pat), _re_replacement(to), s, count=1,
                      flags=re.IGNORECASE)
    return re.sub(_go_regex(pat), _re_replacement(to), s, count=1)


@_reg(BUILTINS, "gsub")
@_absentify
def _bif_gsub(it, args, raw):
    s, pat, to = _s(args[0]), _s(args[1]), _s(args[2])
    if raw and len(raw) > 1 and raw[1][0] == "regexi":
        return re.sub(_go_regex(pat), _re_replacement(to), s,
                      flags=re.IGNORECASE)
    return re.sub(_go_regex(pat), _re_replacement(to), s)


@_reg(BUILTINS, "regextract")
@_absentify
def _bif_regextract(it, args, raw):
    m = re.search(_go_regex(_s(args[1])), _s(args[0]))
    return m.group(0) if m else Err()


@_reg(BUILTINS, "regextract_or_else")
@_absentify
def _bif_regextract_or_else(it, args, raw):
    m = re.search(_go_regex(_s(args[1])), _s(args[0]))
    return m.group(0) if m else args[2]


@_reg(BUILTINS, "strmatch")
def _bif_strmatch(it, args, raw):
    if any(a is ABSENT for a in args):
        return Err()  # absent operand is a type error (dsl-match/0001)
    return re.search(_go_regex(_s(args[1])), _s(args[0])) is not None


@_reg(BUILTINS, "strmatchx")
def _bif_strmatchx(it, args, raw):
    if any(a is ABSENT for a in args):
        return Err()
    m = re.search(_go_regex(_s(args[1])), _s(args[0]))
    if not m:
        return {"matched": False}
    out = {
        "matched": True,
        "full_capture": m.group(0),
        "full_start": m.start() + 1,
        "full_end": m.end(),
    }
    ncap = m.re.groups
    if ncap:
        caps, starts, ends = [], [], []
        for i in range(1, ncap + 1):
            g = m.group(i)
            caps.append("" if g is None else g)
            starts.append(m.start(i) + 1 if g is not None else -1)
            ends.append(m.end(i) if g is not None else -1)
        out["captures"] = caps
        out["starts"] = starts
        out["ends"] = ends
    return out


@_reg(BUILTINS, "substr")
@_absentify
def _bif_substr(it, args, raw):
    # 0-based inclusive (backwards-compat alias of substr0)
    return _substr0(args)


def _substr0(args):
    v, lo, hi = args[0], args[1], args[2]
    s = _s(v)
    n = len(s)
    if not isinstance(lo, int) or not isinstance(hi, int):
        raise _TypeErr()
    if lo < 0:
        lo = n + lo
    if hi < 0:
        hi = n + hi
    lo2 = max(lo, 0)
    hi2 = min(hi, n - 1)
    if lo2 > hi2:
        return ""
    return s[lo2 : hi2 + 1]


@_reg(BUILTINS, "substr0")
@_absentify
def _bif_substr0(it, args, raw):
    return _substr0(args)


@_reg(BUILTINS, "substr1")
@_absentify
def _bif_substr1(it, args, raw):
    v, lo, hi = args[0], args[1], args[2]
    s = _s(v)
    n = len(s)
    if not isinstance(lo, int) or not isinstance(hi, int):
        raise _TypeErr()
    if lo < 0:
        lo = n + lo + 1
    if hi < 0:
        hi = n + hi + 1
    lo2 = max(lo, 1)
    hi2 = min(hi, n)
    if lo2 > hi2:
        return ""
    return s[lo2 - 1 : hi2]


@_reg(BUILTINS, "leftpad")
@_absentify
def _bif_leftpad(it, args, raw):
    s, n, p = _s(args[0]), args[1], _s(args[2])
    if len(p) == 1:
        return s.rjust(n, p)
    while len(s) < n:
        s = p + s
    return s


@_reg(BUILTINS, "rightpad")
@_absentify
def _bif_rightpad(it, args, raw):
    s, n, p = _s(args[0]), args[1], _s(args[2])
    if len(p) == 1:
        return s.ljust(n, p)
    while len(s) < n:
        s = s + p
    return s


@_reg(BUILTINS, "format")
def _bif_format(it, args, raw):
    """format("{}:{1}", ...): {} consumes args in order; {n} is a
    1-based index; {0} or malformed is an error; out-of-range is
    absent (dsl-format/0011..0015)."""
    if not args:
        return ""
    fmt = args[0]
    if not isinstance(fmt, str):
        return Err()
    rest = args[1:]
    out = []
    pos = 0
    auto_i = 0
    err = False
    absent_seen = False
    for m in re.finditer(r"\{(\d*)\}", fmt):
        out.append(fmt[pos : m.start()])
        pos = m.end()
        tok = m.group(1)
        if tok == "":
            idx = auto_i
            auto_i += 1
        else:
            n = int(tok)
            if n < 1:
                err = True
                out.append("{" + tok + "}")
                continue
            idx = n - 1
        if idx >= len(rest):
            continue  # too-few args: interpolate empty (reference)
        v = rest[idx]
        out.append("" if v is ABSENT else _s(v))
    out.append(fmt[pos:])
    if err:
        return Err()
    return "".join(out)


@_reg(BUILTINS, "unformat")
@_absentify
def _bif_unformat(it, args, raw):
    if len(args) != 2:
        raise MlrRuntimeError(
            f"function unformat invoked with {len(args)} arguments; needs 2"
        )
    return _unformat(_s(args[0]), _s(args[1]), infer=True)


@_reg(BUILTINS, "unformatx")
@_absentify
def _bif_unformatx(it, args, raw):
    return _unformat(_s(args[0]), _s(args[1]), infer=False)


def _unformat(fmt, s, infer):
    pat = "(.*?)".join(re.escape(p) for p in fmt.split("{}"))
    m = re.fullmatch(pat, s)
    if not m:
        return Err()
    vals = list(m.groups())
    if infer:
        return [infer_value(v) for v in vals]
    return vals


@_reg(BUILTINS, "fmtnum")
@_absentify
def _bif_fmtnum(it, args, raw):
    v = args[0]
    if isinstance(v, dict):
        # recurses over collections (bifs/strings.go:604); non-numeric
        # leaves become (error) (dsl-number-formatting/0005)
        return {k: _bif_fmtnum(it, [x, args[1]], raw)
                for k, x in v.items()}
    if isinstance(v, list):
        return [_bif_fmtnum(it, [x, args[1]], raw) for x in v]
    return _fmtnum(args[0], args[1])


@_reg(BUILTINS, "fmtifnum")
def _bif_fmtifnum(it, args, raw):
    v = args[0]
    if isinstance(v, dict):
        # collection input: format every numeric leaf, keep the rest
        # (dsl-number-formatting/0006: fmtifnum($*, "%8.3e"))
        return {k: _bif_fmtifnum(it, [x, args[1]], raw)
                for k, x in v.items()}
    if isinstance(v, list):
        return [_bif_fmtifnum(it, [x, args[1]], raw) for x in v]
    if _to_num(v) is None:
        return v
    r = _fmtnum(v, args[1])
    return v if isinstance(r, Err) else r


def _fmtnum(v, fmt):
    n = _to_num(v)
    if n is None or not isinstance(fmt, str):
        return Err()
    # Go verbs: %d %x %o %b %e %f %g + ll/l prefixes and widths
    f = fmt.replace("%ll", "%").replace("%l", "%")
    m = re.match(r"^(.*?)%([#0\- +']*)(\d*)(?:\.(\d+))?([dioxXbeEfFgGs%])(.*)$", f)
    if not m:
        return Err()
    pre, flags, width, prec, verb, post = m.groups()
    flags = flags.replace("'", "")
    spec = "%" + flags + width + ("." + prec if prec is not None else "")
    try:
        if verb in ("d", "i"):
            return pre + (spec + "d") % int(n) + post
        if verb in ("x", "X", "o", "b"):
            iv = int(n) % 2**64 if int(n) < 0 else int(n)
            if verb == "b":
                body = bin(iv)[2:]
                if width:
                    body = body.rjust(int(width), "0" if "0" in flags else " ")
                return pre + body + post
            return pre + (spec + verb.replace("o", "o")) % iv + post
        # float verbs: the result is NUMERIC (mlrval float with a
        # printrep); under MLR_OFMT the output re-renders by value, so
        # carry the quantized value (dsl-number-formatting/0006:
        # %8.3e of 0.34679 prints as 0.34680000 under %.8f)
        s = pre + (spec + verb) % float(n) + post
        if not pre and not post:
            try:
                return float(s)
            except ValueError:
                return s
        return s
    except (ValueError, OverflowError):
        return Err()


@_reg(BUILTINS, "splitax")
@_absentify
def _bif_splitax(it, args, raw):
    s, sep = _s(args[0]), _s(args[1])
    if s == "":
        return []
    return s.split(sep) if sep else list(s)


@_reg(BUILTINS, "splita")
@_absentify
def _bif_splita(it, args, raw):
    s, sep = _s(args[0]), _s(args[1])
    if s == "":
        return []
    return [infer_value(p) for p in (s.split(sep) if sep else list(s))]


@_reg(BUILTINS, "splitnv")
@_absentify
def _bif_splitnv(it, args, raw):
    s, sep = _s(args[0]), _s(args[1])
    if s == "":
        return {}
    return {str(i + 1): infer_value(p) for i, p in enumerate(s.split(sep))}


@_reg(BUILTINS, "splitnvx")
@_absentify
def _bif_splitnvx(it, args, raw):
    s, sep = _s(args[0]), _s(args[1])
    if s == "":
        return {}
    return {str(i + 1): p for i, p in enumerate(s.split(sep))}


@_reg(BUILTINS, "splitkv")
@_absentify
def _bif_splitkv(it, args, raw):
    s, ps, fs = _s(args[0]), _s(args[1]), _s(args[2])
    out = {}
    if s == "":
        return out
    for i, pair in enumerate(s.split(fs)):
        if ps in pair:
            k, v = pair.split(ps, 1)
            out[k] = infer_value(v)
        else:
            # pairless piece: positional 1-up key, the piece is the
            # value (dsl-split-join-more/0008: "c" -> 3=c)
            out[str(i + 1)] = infer_value(pair)
    return out


@_reg(BUILTINS, "splitkvx")
@_absentify
def _bif_splitkvx(it, args, raw):
    s, ps, fs = _s(args[0]), _s(args[1]), _s(args[2])
    out = {}
    if s == "":
        return out
    for i, pair in enumerate(s.split(fs)):
        if ps in pair:
            k, v = pair.split(ps, 1)
            out[k] = v
        else:
            out[str(i + 1)] = pair
    return out


@_reg(BUILTINS, "joink")
@_absentify
def _bif_joink(it, args, raw):
    m, sep = args[0], _s(args[1])
    if isinstance(m, dict):
        return sep.join(_s(k) for k in m.keys())
    if isinstance(m, list):
        return sep.join(str(i + 1) for i in range(len(m)))
    return Err()


@_reg(BUILTINS, "joinv")
@_absentify
def _bif_joinv(it, args, raw):
    m, sep = args[0], _s(args[1])
    if isinstance(m, dict):
        return sep.join(_s(v) for v in m.values())
    if isinstance(m, list):
        return sep.join(_s(v) for v in m)
    return Err()


@_reg(BUILTINS, "joinkv")
@_absentify
def _bif_joinkv(it, args, raw):
    m, ps, fs = args[0], _s(args[1]), _s(args[2])
    if isinstance(m, dict):
        return fs.join(f"{_s(k)}{ps}{_s(v)}" for k, v in m.items())
    if isinstance(m, list):
        return fs.join(f"{i + 1}{ps}{_s(v)}" for i, v in enumerate(m))
    return Err()


# ---- maps / arrays / collections ----------------------------------------


@_reg(BUILTINS, "length")
def _bif_length(it, args, raw):
    v = args[0]
    if v is ABSENT:
        return 0
    if isinstance(v, dict):
        return len(v)
    if isinstance(v, list):
        return len(v)
    return 1


@_reg(BUILTINS, "depth")
def _bif_depth(it, args, raw):
    if args[0] is ABSENT:
        return ABSENT

    def d(v):
        if isinstance(v, dict):
            return 1 + max((d(x) for x in v.values()), default=0)
        if isinstance(v, list):
            return 1 + max((d(x) for x in v), default=0)
        return 0

    return d(args[0])


@_reg(BUILTINS, "leafcount")
def _bif_leafcount(it, args, raw):
    if args[0] is ABSENT:
        return ABSENT

    def lc(v):
        if isinstance(v, dict):
            return sum(lc(x) for x in v.values()) if v else 0
        if isinstance(v, list):
            return sum(lc(x) for x in v) if v else 0
        return 1

    return lc(args[0])


@_reg(BUILTINS, "haskey")
def _bif_haskey(it, args, raw):
    c, k = args[0], args[1]
    if isinstance(c, dict):
        return str(format_value(k)) in c
    if isinstance(c, list):
        if not isinstance(k, int) or isinstance(k, bool):
            return False
        return 1 <= abs(k) <= len(c) and k != 0
    return Err()  # haskey on a non-collection is a type error


@_reg(BUILTINS, "hasvalue")
def _bif_hasvalue(it, args, raw):
    c, needle = args[0], args[1]
    vals = c.values() if isinstance(c, dict) else (c if isinstance(c, list) else [])
    return any(_eq_scalar_or_coll(v, needle) for v in vals)


@_reg(BUILTINS, "get_keys")
def _bif_get_keys(it, args, raw):
    c = args[0]
    if isinstance(c, dict):
        return list(c.keys())
    if isinstance(c, list):
        return [i + 1 for i in range(len(c))]
    return []


@_reg(BUILTINS, "get_values")
def _bif_get_values(it, args, raw):
    c = args[0]
    if isinstance(c, dict):
        return list(c.values())
    if isinstance(c, list):
        return list(c)
    return []


@_reg(BUILTINS, "append")
@_absentify
def _bif_append(it, args, raw):
    a, v = args[0], args[1]
    if not isinstance(a, list):
        return Err()
    return a + [v]


@_reg(BUILTINS, "concat")
def _bif_concat(it, args, raw):
    out = []
    for a in args:
        if a is ABSENT:
            continue
        if isinstance(a, list):
            out.extend(a)
        else:
            out.append(a)
    if len(args) == 1 and args[0] is ABSENT:
        return []
    return out


@_reg(BUILTINS, "flatten")
def _bif_flatten(it, args, raw):
    if len(args) == 3:
        prefix, sep, v = _s(args[0]), _s(args[1]), args[2]
    else:
        v, sep = args[0], _s(args[1])
        prefix = ""
    if not isinstance(v, (dict, list)):
        # non-collection passes through unchanged (bifs/collections.go
        # BIF_flatten tail)
        return v
    out: dict = {}
    if isinstance(v, dict):
        for k, v2 in v.items():
            key = f"{prefix}{sep}{_s(k)}" if prefix else _s(k)
            flatten_into(out, key, v2, sep)
        return out
    flatten_into(out, prefix or "1", v, sep)
    return out


@_reg(BUILTINS, "unflatten")
def _bif_unflatten(it, args, raw):
    v, sep = args[0], _s(args[1])
    if not isinstance(v, dict):
        return v
    return unflatten_record(v, sep)


@_reg(BUILTINS, "arrayify")
def _bif_arrayify(it, args, raw):
    return _arrayify(args[0])


@_reg(BUILTINS, "mapsum")
def _bif_mapsum(it, args, raw):
    out: dict = {}
    for a in args:
        if isinstance(a, dict):
            out.update(a)
    return out


@_reg(BUILTINS, "mapdiff")
def _bif_mapdiff(it, args, raw):
    if not args:
        return {}
    if not isinstance(args[0], dict):
        return Err()
    out = dict(args[0])
    for a in args[1:]:
        if isinstance(a, dict):
            for k in a:
                out.pop(k, None)
    return out


@_reg(BUILTINS, "mapexcept")
def _bif_mapexcept(it, args, raw):
    if not args:
        raise MlrRuntimeError(
            "function mapexcept invoked with 0 arguments; needs at least 1"
        )
    if not isinstance(args[0], dict):
        return Err()
    out = dict(args[0])
    for a in args[1:]:
        keys = a if isinstance(a, list) else [a]
        for k in keys:
            out.pop(str(format_value(k)), None)
    return out


@_reg(BUILTINS, "mapselect")
def _bif_mapselect(it, args, raw):
    if not args:
        raise MlrRuntimeError(
            "function mapselect invoked with 0 arguments; needs at least 1"
        )
    if not isinstance(args[0], dict):
        return Err()
    keep = []
    for a in args[1:]:
        keys = a if isinstance(a, list) else [a]
        keep.extend(str(format_value(k)) for k in keys)
    return {k: v for k, v in args[0].items() if k in keep}


@_reg(BUILTINS, "json_encode")
def _bif_json_encode(it, args, raw):
    if len(args) > 1:
        # second arg: multiline flag (json_stringify($x, false) ->
        # single-line; dsl-json-parse-json-stringify/0002)
        multi = args[1] is True or args[1] == "true"
        return json_encode(args[0], indent=2 if multi else None)
    v = args[0]
    if v is ABSENT:
        return ABSENT
    return json_encode(v)


@_reg(BUILTINS, "json_decode")
@_absentify
def _bif_json_decode(it, args, raw):
    try:
        return _from_json(json.loads(args[0]))
    except (json.JSONDecodeError, TypeError):
        return Err()


BUILTINS["json_parse"] = BUILTINS["json_decode"]
BUILTINS["json_stringify"] = BUILTINS["json_encode"]


def _from_json(v):
    if isinstance(v, dict):
        return {k: _from_json(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_from_json(x) for x in v]
    if v is None:
        return ""
    return v


# ---- higher-order functions ---------------------------------------------


def _callable_arg(it, v):
    if isinstance(v, _Closure):
        return v
    if isinstance(v, str) and v in it.funcs:
        params, body, _rt = it.funcs[v]
        return lambda *a: it._call_user(params, body, list(a), rettype=_rt)
    raise _TypeErr()


def _hof_func(it, v, name, arity):
    """Higher-order-function argument validation: the reference FATALS
    (not error-value) on a non-function argument or an arity mismatch
    (dsl-first-class-functions/*-errors-* should-fail suites)."""
    if isinstance(v, _Closure):
        n = len(v.params)
        if n != arity:
            raise MlrRuntimeError(
                f"{name}: argument function has arity {n}; need {arity}"
            )
        return v
    if isinstance(v, str) and v in it.funcs:
        params, body, _rt = it.funcs[v]
        if len(params) != arity:
            raise MlrRuntimeError(
                f"{name}: argument function {v} has arity "
                f"{len(params)}; need {arity}"
            )
        return lambda *a: it._call_user(params, body, list(a), rettype=_rt)
    raise MlrRuntimeError(
        f"{name}: second argument must be a function; got {mlr_typeof(v)}."
    )


def _hof_argc(name, args, want):
    if len(args) != want:
        s = "" if len(args) == 1 else "s"
        raise MlrRuntimeError(
            f"function {name} invoked with {len(args)} argument{s}; "
            f"expected {want}"
        )


@_reg(BUILTINS, "apply")
def _bif_apply(it, args, raw):
    _hof_argc("apply", args, 2)
    c = args[0]
    if isinstance(c, list):
        f = _hof_func(it, args[1], "apply", 1)
        out = []
        for v in c:
            r = f(v)
            if r is ABSENT:
                raise MlrRuntimeError(
                    "apply: second-argument function must return a "
                    "value; got (absent)"
                )
            out.append(r)
        return out
    if isinstance(c, dict):
        f = _hof_func(it, args[1], "apply", 2)
        out = {}
        for k, v in c.items():
            r = f(k, v)
            if not isinstance(r, dict) or len(r) != 1:
                raise MlrRuntimeError(
                    "apply: second-argument function must return "
                    f"single-element map; got {mlr_typeof(r)}"
                )
            out.update(r)
        return out
    return Err()


@_reg(BUILTINS, "select")
def _bif_select(it, args, raw):
    _hof_argc("select", args, 2)
    c = args[0]

    def pred(name, r):
        if not isinstance(r, bool):
            raise MlrRuntimeError(
                f"select: function returned non-boolean "
                f"\"{format_value(r)}\"."
            )
        return r

    if isinstance(c, list):
        f = _hof_func(it, args[1], "select", 1)
        return [v for v in c if pred("select", f(v))]
    if isinstance(c, dict):
        f = _hof_func(it, args[1], "select", 2)
        return {k: v for k, v in c.items() if pred("select", f(k, v))}
    return Err()


@_reg(BUILTINS, "any")
def _bif_any(it, args, raw):
    _hof_argc("any", args, 2)
    c = args[0]
    if isinstance(c, list):
        f = _hof_func(it, args[1], "any", 1)
        return any(f(v) is True for v in c)
    if isinstance(c, dict):
        f = _hof_func(it, args[1], "any", 2)
        return any(f(k, v) is True for k, v in c.items())
    return Err()


@_reg(BUILTINS, "every")
def _bif_every(it, args, raw):
    _hof_argc("every", args, 2)
    c = args[0]
    if isinstance(c, list):
        f = _hof_func(it, args[1], "every", 1)
        return all(f(v) is True for v in c)
    if isinstance(c, dict):
        f = _hof_func(it, args[1], "every", 2)
        return all(f(k, v) is True for k, v in c.items())
    return Err()


def _acc_pair(acc):
    """Map-reduce accumulator is a single-entry map passed to the
    callback as (acck, accv) (reference-dsl higher-order functions)."""
    if isinstance(acc, dict) and acc:
        k = next(iter(acc))
        return k, acc[k]
    return ABSENT, ABSENT


def _single_entry(name, r):
    if not isinstance(r, dict) or len(r) != 1:
        raise MlrRuntimeError(
            f"{name}: second-argument function must return "
            f"single-element map; got {mlr_typeof(r)}"
        )
    return r


@_reg(BUILTINS, "fold")
def _bif_fold(it, args, raw):
    _hof_argc("fold", args, 3)
    c = args[0]
    acc = args[2]
    if isinstance(c, list):
        f = _hof_func(it, args[1], "fold", 2)
        for v in c:
            acc = f(acc, v)
            if acc is ABSENT:
                # hofs.go:471 — fatal (message says "apply" there too)
                raise MlrRuntimeError(
                    "apply: second-argument function must return a "
                    "value; got (absent)"
                )
        return acc
    if isinstance(c, dict):
        f = _hof_func(it, args[1], "fold", 4)
        if not isinstance(acc, dict) or len(acc) != 1:
            raise MlrRuntimeError(
                "fold: third argument must be a single-element map; "
                f"got {mlr_typeof(acc)}"
            )
        for k, v in c.items():
            ak, av = _acc_pair(acc)
            acc = _single_entry("fold", f(
                ak, av, infer_value(k) if isinstance(k, str) else k, v))
        return acc
    return Err()


@_reg(BUILTINS, "reduce")
def _bif_reduce(it, args, raw):
    _hof_argc("reduce", args, 2)
    c = args[0]
    if isinstance(c, list):
        f = _hof_func(it, args[1], "reduce", 2)
        if not c:
            return ABSENT
        acc = c[0]
        for v in c[1:]:
            acc = f(acc, v)
            if acc is ABSENT:
                # hofs.go:396 — fatal (message says "apply" there too)
                raise MlrRuntimeError(
                    "apply: second-argument function must return a "
                    "value; got (absent)"
                )
        return acc
    if isinstance(c, dict):
        f = _hof_func(it, args[1], "reduce", 4)
        items = list(c.items())
        if not items:
            return ABSENT
        acc = {items[0][0]: items[0][1]}
        for k, v in items[1:]:
            ak, av = _acc_pair(acc)
            acc = _single_entry("reduce", f(
                ak, av, infer_value(k) if isinstance(k, str) else k, v))
        return acc
    return Err()


@_reg(BUILTINS, "sort")
def _bif_sort(it, args, raw):
    import functools

    if len(args) > 2:
        raise MlrRuntimeError(
            f"function sort takes maximum argument count 2; got {len(args)}"
        )
    c = args[0]
    if len(args) == 1:
        flags = ""
        f = None
    elif isinstance(args[1], str) and not isinstance(args[1], _Closure):
        flags = args[1]
        f = None
    elif isinstance(c, list):
        f = _hof_func(it, args[1], "sort", 2)
        flags = ""
    elif isinstance(c, dict):
        try:
            f = _hof_func(it, args[1], "sort", 4)
        except MlrRuntimeError:
            f = _hof_func(it, args[1], "sort", 2)  # key comparator
        flags = ""
    else:
        return Err()  # sort of a scalar is an error VALUE, not fatal
    if isinstance(c, list):
        if f is not None:
            key = functools.cmp_to_key(lambda a, b: _cmp_from_func(f, a, b))
            return sorted(c, key=key)
        return sorted(c, key=functools.cmp_to_key(
            lambda a, b: _flag_cmp(a, b, flags)))
    if isinstance(c, dict):
        items = list(c.items())
        if f is not None:
            try:
                # try key-comparator first: f(ak, av, bk, bv)? reference
                # sorts maps by passing (ak, av, bk, bv)
                key = functools.cmp_to_key(
                    lambda A, B: _cmp_val(f(A[0], A[1], B[0], B[1])))
                items = sorted(items, key=key)
            except (TypeError, MlrRuntimeError):
                key = functools.cmp_to_key(
                    lambda A, B: _cmp_from_func(f, A[0], B[0]))
                items = sorted(items, key=key)
        else:
            items = sorted(items, key=functools.cmp_to_key(
                lambda A, B: _flag_cmp(A[0], B[0], flags)))
        return dict(items)
    return Err()


def _natural_cmp(a: str, b: str) -> int:
    """Natural order: digit runs compare numerically (X2 < X10)."""
    ta = [int(t) if t.isdigit() else t for t in re.split(r"(\d+)", a) if t]
    tb = [int(t) if t.isdigit() else t for t in re.split(r"(\d+)", b) if t]
    for x, y in zip(ta, tb):
        if x == y:
            continue
        if isinstance(x, int) and isinstance(y, int):
            return -1 if x < y else 1
        sx, sy = str(x), str(y)
        return -1 if sx < sy else (1 if sx > sy else 0)
    return -1 if len(ta) < len(tb) else (1 if len(ta) > len(tb) else 0)


def _cmp_val(r):
    n = _to_num(r)
    if n is None:
        raise MlrRuntimeError(
            f"sort: comparator function returned non-number "
            f"\"{format_value(r)}\"."
        )
    return -1 if n < 0 else (1 if n > 0 else 0)


def _cmp_from_func(f, a, b):
    return _cmp_val(f(a, b))


def _flag_cmp(a, b, flags: str) -> int:
    """sort() flags (reference sorting docs / dsl-sorts goldens):
    "n" numeric (non-numerics by natural order), "f" lexical,
    "c" case-folded lexical, "t" trimmed, "r" reverses."""
    desc = "r" in flags
    if "n" in flags:
        an = _to_num(infer_value(a) if isinstance(a, str) else a)
        bn = _to_num(infer_value(b) if isinstance(b, str) else b)
        if an is not None and bn is not None:
            c = -1 if an < bn else (1 if an > bn else 0)
        else:
            c = compare_values(a, b)
    elif "c" in flags:
        sa, sb = _s(a).lower(), _s(b).lower()
        c = -1 if sa < sb else (1 if sa > sb else 0)
    elif "f" in flags:
        sa, sb = _s(a), _s(b)
        c = -1 if sa < sb else (1 if sa > sb else 0)
    elif "t" in flags:
        c = _natural_cmp(_s(a), _s(b))
    else:
        c = compare_values(a, b)
    return -c if desc else c


@_reg(BUILTINS, "sort_by_key")
def _bif_sort_by_key(it, args, raw):
    m = args[0]
    if not isinstance(m, dict):
        return Err()
    import functools

    return dict(sorted(m.items(), key=functools.cmp_to_key(
        lambda A, B: compare_values(infer_value(A[0]), infer_value(B[0])))))


@_reg(BUILTINS, "sort_by_value")
def _bif_sort_by_value(it, args, raw):
    m = args[0]
    if not isinstance(m, dict):
        return Err()
    import functools

    return dict(sorted(m.items(), key=functools.cmp_to_key(
        lambda A, B: compare_values(A[1], B[1]))))


# ---- type reflection / predicates ---------------------------------------


def mlr_typeof(v) -> str:
    if v is ABSENT:
        return "absent"
    if isinstance(v, Err):
        return "error"
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, dict):
        return "map"
    if isinstance(v, list):
        return "array"
    if isinstance(v, _Closure):
        return "funct"
    if v == "":
        return "empty"
    return "string"


@_reg(BUILTINS, "typeof")
def _bif_typeof(it, args, raw):
    return mlr_typeof(args[0])


_PREDICATES = {
    "is_absent": lambda v: v is ABSENT,
    "is_present": lambda v: v is not ABSENT,
    "is_empty": lambda v: isinstance(v, str) and v == "",
    "is_not_empty": lambda v: not (isinstance(v, str) and v == "") and v is not ABSENT,
    "is_null": lambda v: v is ABSENT or (isinstance(v, str) and v == ""),
    "is_not_null": lambda v: not (v is ABSENT or (isinstance(v, str) and v == "")),
    "is_error": lambda v: isinstance(v, Err),
    "is_string": lambda v: isinstance(v, str),
    "is_int": lambda v: isinstance(v, int) and not isinstance(v, bool),
    "is_float": lambda v: isinstance(v, float),
    "is_numeric": lambda v: _is_num(v),
    "is_boolean": lambda v: isinstance(v, bool),
    "is_bool": lambda v: isinstance(v, bool),
    "is_map": lambda v: isinstance(v, dict),
    "is_not_map": lambda v: not isinstance(v, dict),
    "is_array": lambda v: isinstance(v, list),
    "is_not_array": lambda v: not isinstance(v, list),
    "is_empty_map": lambda v: isinstance(v, dict) and not v,
    "is_nonempty_map": lambda v: isinstance(v, dict) and bool(v),
    "is_nan": lambda v: isinstance(v, float) and v != v,
    "is_inf": lambda v: isinstance(v, float) and v in (float("inf"), float("-inf")),
}

for _nm, _p in _PREDICATES.items():
    def _mkp(p=_p):
        def impl(it, args, raw):
            return p(args[0])

        return _guard(impl)

    BUILTINS[_nm] = _mkp()

for _nm, _p in _PREDICATES.items():
    if not _nm.startswith("is_"):
        continue
    _anm = "asserting_" + _nm[3:]

    def _mka(p=_p, nm=_nm):
        def impl(it, args, raw):
            if p(args[0]):
                return args[0]
            raise MlrRuntimeError(f"assertion {nm} failed")

        return _guard(impl)

    BUILTINS[_anm] = _mka()


@_reg(BUILTINS, "asserting_numeric")
def _bif_asserting_numeric(it, args, raw):
    if _is_num(args[0]):
        return args[0]
    raise MlrRuntimeError("assertion is_numeric failed")


# ---- collection statistics (reference pkg/bifs/stats.go) ----------------


def _numeric_list(c):
    if isinstance(c, dict):
        vals = list(c.values())
    elif isinstance(c, list):
        vals = c
    else:
        raise _TypeErr()
    out = []
    for v in vals:
        if isinstance(v, str) and v != "":
            v = infer_value(v)
        n = _to_num(v)
        if n is not None:
            out.append(n)
    return out


def _maybe_int(x):
    if isinstance(x, float) and x == int(x) and abs(x) < 1e15:
        return x  # keep float (Miller stats print as float)
    return x


@_reg(BUILTINS, "mean")
@_absentify
def _bif_mean(it, args, raw):
    ns = _numeric_list(args[0])
    if not ns:
        return ABSENT
    return sum(ns) / len(ns)


@_reg(BUILTINS, "sum")
@_absentify
def _bif_sum(it, args, raw):
    ns = _numeric_list(args[0])
    s = sum(ns)
    return s


@_reg(BUILTINS, "sum2")
@_absentify
def _bif_sum2(it, args, raw):
    return sum(x * x for x in _numeric_list(args[0]))


@_reg(BUILTINS, "sum3")
@_absentify
def _bif_sum3(it, args, raw):
    return sum(x**3 for x in _numeric_list(args[0]))


@_reg(BUILTINS, "sum4")
@_absentify
def _bif_sum4(it, args, raw):
    return sum(x**4 for x in _numeric_list(args[0]))


@_reg(BUILTINS, "count")
@_absentify
def _bif_count(it, args, raw):
    c = args[0]
    if isinstance(c, dict):
        return len(c)
    if isinstance(c, list):
        return len(c)
    raise _TypeErr()


@_reg(BUILTINS, "null_count")
@_absentify
def _bif_null_count(it, args, raw):
    c = args[0]
    vals = c.values() if isinstance(c, dict) else c
    return sum(1 for v in vals if v == "" or v is ABSENT)


@_reg(BUILTINS, "distinct_count")
@_absentify
def _bif_distinct_count(it, args, raw):
    c = args[0]
    vals = c.values() if isinstance(c, dict) else c
    seen = set()
    for v in vals:
        seen.add(str(format_value(v)))
    return len(seen)


@_reg(BUILTINS, "mode")
@_absentify
def _bif_mode(it, args, raw):
    c = args[0]
    vals = list(c.values() if isinstance(c, dict) else c)
    if not vals:
        return ABSENT
    counts: dict = {}
    for v in vals:
        k = str(format_value(v))
        counts[k] = counts.get(k, (0, v))[0] + 1, v
    best = max(counts.items(), key=lambda kv: kv[1][0])
    return best[1][1]


@_reg(BUILTINS, "antimode")
@_absentify
def _bif_antimode(it, args, raw):
    c = args[0]
    vals = list(c.values() if isinstance(c, dict) else c)
    if not vals:
        return ABSENT
    counts: dict = {}
    for v in vals:
        k = str(format_value(v))
        counts[k] = counts.get(k, (0, v))[0] + 1, v
    best = min(counts.items(), key=lambda kv: kv[1][0])
    return best[1][1]


@_reg(BUILTINS, "minlen")
@_absentify
def _bif_minlen(it, args, raw):
    c = args[0]
    vals = c.values() if isinstance(c, dict) else c
    return min((len(_s(v)) for v in vals), default=ABSENT)


@_reg(BUILTINS, "maxlen")
@_absentify
def _bif_maxlen(it, args, raw):
    c = args[0]
    vals = c.values() if isinstance(c, dict) else c
    return max((len(_s(v)) for v in vals), default=ABSENT)


def _var(ns):
    n = len(ns)
    if n < 2:
        return ABSENT
    m = sum(ns) / n
    return sum((x - m) ** 2 for x in ns) / (n - 1)


@_reg(BUILTINS, "variance")
@_absentify
def _bif_variance(it, args, raw):
    return _var(_numeric_list(args[0]))


BUILTINS["var"] = BUILTINS["variance"]


@_reg(BUILTINS, "stddev")
@_absentify
def _bif_stddev(it, args, raw):
    v = _var(_numeric_list(args[0]))
    return math.sqrt(v) if _is_num(v) else v


@_reg(BUILTINS, "meaneb")
@_absentify
def _bif_meaneb(it, args, raw):
    ns = _numeric_list(args[0])
    v = _var(ns)
    return math.sqrt(v / len(ns)) if _is_num(v) else v


@_reg(BUILTINS, "skewness")
@_absentify
def _bif_skewness(it, args, raw):
    ns = _numeric_list(args[0])
    n = len(ns)
    if n < 2:
        return ABSENT
    m = sum(ns) / n
    num = sum((x - m) ** 3 for x in ns) / n
    den = (sum((x - m) ** 2 for x in ns) / n) ** 1.5
    return num / den if den else float("nan")


@_reg(BUILTINS, "kurtosis")
@_absentify
def _bif_kurtosis(it, args, raw):
    ns = _numeric_list(args[0])
    n = len(ns)
    if n < 2:
        return ABSENT
    m = sum(ns) / n
    num = sum((x - m) ** 4 for x in ns) / n
    den = (sum((x - m) ** 2 for x in ns) / n) ** 2
    return num / den - 3.0 if den else float("nan")


def _percentile(ns_sorted, p, interpolate):
    n = len(ns_sorted)
    if n == 0:
        return ABSENT
    if not interpolate:
        idx = int(p / 100 * n)
        if idx >= n:
            idx = n - 1
        return ns_sorted[idx]
    findex = (p / 100) * (n - 1)
    if findex < 0:
        findex = 0
    lo = int(findex)
    hi = min(lo + 1, n - 1)
    frac = findex - lo
    return (1 - frac) * ns_sorted[lo] + frac * ns_sorted[hi]


@_reg(BUILTINS, "median")
@_absentify
def _bif_median(it, args, raw):
    c = args[0]
    interp = False
    if len(args) > 1 and isinstance(args[1], dict):
        interp = args[1].get("interpolate_linearly") is True
    ns = sorted(_numeric_list(c))
    return _percentile(ns, 50, interp)


@_reg(BUILTINS, "percentile")
@_absentify
def _bif_percentile(it, args, raw):
    c, p = args[0], args[1]
    interp = False
    if len(args) > 2 and isinstance(args[2], dict):
        interp = args[2].get("interpolate_linearly") is True
    pn = _to_num(p)
    if pn is None:
        raise _TypeErr()
    ns = sorted(_numeric_list(c))
    return _percentile(ns, pn, interp)


@_reg(BUILTINS, "percentiles")
@_absentify
def _bif_percentiles(it, args, raw):
    c, ps = args[0], args[1]
    opts = args[2] if len(args) > 2 and isinstance(args[2], dict) else {}
    interp = opts.get("interpolate_linearly") is True
    out_arr = opts.get("output_array_not_map") is True
    ns = sorted(_numeric_list(c))
    plist = ps if isinstance(ps, list) else [ps]
    vals = []
    for p in plist:
        pn = _to_num(infer_value(p) if isinstance(p, str) else p)
        vals.append(_percentile(ns, pn, interp) if pn is not None else Err())
    if out_arr:
        return vals
    return {str(format_value(p)): v for p, v in zip(plist, vals)}


@_reg(BUILTINS, "sort_collection")
@_absentify
def _bif_sort_collection(it, args, raw):
    import functools

    c = args[0]
    vals = list(c.values() if isinstance(c, dict) else c)
    return sorted(vals, key=functools.cmp_to_key(compare_values))


# ---- hashing -------------------------------------------------------------


@_reg(BUILTINS, "md5")
@_absentify
def _bif_md5(it, args, raw):
    return hashlib.md5(_s(args[0]).encode()).hexdigest()


@_reg(BUILTINS, "sha1")
@_absentify
def _bif_sha1(it, args, raw):
    return hashlib.sha1(_s(args[0]).encode()).hexdigest()


@_reg(BUILTINS, "sha256")
@_absentify
def _bif_sha256(it, args, raw):
    return hashlib.sha256(_s(args[0]).encode()).hexdigest()


@_reg(BUILTINS, "sha512")
@_absentify
def _bif_sha512(it, args, raw):
    return hashlib.sha512(_s(args[0]).encode()).hexdigest()


@_reg(BUILTINS, "crc32")
@_absentify
def _bif_crc32(it, args, raw):
    return zlib.crc32(_s(args[0]).encode()) & 0xFFFFFFFF


# ---- encodings -----------------------------------------------------------


@_reg(BUILTINS, "base64_encode")
@_absentify
def _bif_b64e(it, args, raw):
    import base64

    return base64.b64encode(_s(args[0]).encode()).decode()


@_reg(BUILTINS, "base64_decode")
@_absentify
def _bif_b64d(it, args, raw):
    import base64

    try:
        return base64.b64decode(_s(args[0]).encode()).decode("utf-8")
    except Exception:
        return Err()


@_reg(BUILTINS, "hex_encode")
@_absentify
def _bif_hexe(it, args, raw):
    return _s(args[0]).encode().hex()


@_reg(BUILTINS, "hex_decode")
@_absentify
def _bif_hexd(it, args, raw):
    s = _s(args[0])
    if s.startswith("0x"):
        s = s[2:]
    try:
        return bytes.fromhex(s).decode("utf-8")
    except Exception:
        return Err()


@_reg(BUILTINS, "latin1_to_utf8")
@_absentify
def _bif_l2u(it, args, raw):
    """Value-level identity (the byte re-encoding happens at write
    time in the reference, lib/latin1.go); recurses over collections.
    Standalone byte-view mojibake is unrepresentable in the str value
    model — same stance as the latin1-to-utf8 verb (exact.py)."""
    v = args[0]
    if isinstance(v, dict):
        return {k: _bif_l2u(it, [x], raw) for k, x in v.items()}
    if isinstance(v, list):
        return [_bif_l2u(it, [x], raw) for x in v]
    return v


@_reg(BUILTINS, "utf8_to_latin1")
@_absentify
def _bif_u2l(it, args, raw):
    """Identity when every code point fits latin-1, (error) otherwise
    (lib/latin1.go TryUTF8ToLatin1); recurses over collections."""
    v = args[0]
    if isinstance(v, dict):
        return {k: _bif_u2l(it, [x], raw) for k, x in v.items()}
    if isinstance(v, list):
        return [_bif_u2l(it, [x], raw) for x in v]
    if not isinstance(v, str):
        return v
    if any(ord(c) > 0xFF for c in v):
        return Err()
    return v


# ---- time (UTC; reference pkg/bifs/time.go, lib/timeutil) ----------------

import datetime as _dt

_UTC = _dt.timezone.utc


def _frac_str(x: float, digits: int) -> str:
    """Truncated (not rounded) fractional part, e.g. .9 for 0.999@1."""
    frac = x - math.floor(x)
    scaled = int(frac * (10 ** digits) + 1e-9)
    return "." + str(scaled).rjust(digits, "0")


def _sec_to_dt(sec: float) -> _dt.datetime:
    return _dt.datetime.fromtimestamp(sec, tz=_UTC)


@_reg(BUILTINS, "systime")
def _bif_systime(it, args, raw):
    raise DslUnsupported("systime (nondeterministic)")


BUILTINS["systimeint"] = BUILTINS["systime"]
BUILTINS["sysntime"] = BUILTINS["systime"]
BUILTINS["uptime"] = BUILTINS["systime"]
BUILTINS["upntime"] = BUILTINS["systime"]
BUILTINS["urand"] = BUILTINS["systime"]
BUILTINS["urand32"] = BUILTINS["systime"]
BUILTINS["urandint"] = BUILTINS["systime"]
BUILTINS["urandrange"] = BUILTINS["systime"]
BUILTINS["urandelement"] = BUILTINS["systime"]
BUILTINS["exec"] = BUILTINS["systime"]
BUILTINS["system"] = BUILTINS["systime"]
BUILTINS["hostname"] = BUILTINS["systime"]
BUILTINS["os"] = BUILTINS["systime"]
BUILTINS["version"] = BUILTINS["systime"]
BUILTINS["stat"] = BUILTINS["systime"]


@_reg(BUILTINS, "sec2gmt")
@_absentify
def _bif_sec2gmt(it, args, raw):
    v = args[0]
    n = _to_num(v)
    if n is None:
        return v
    ndec = args[1] if len(args) > 1 else 0
    d = _sec_to_dt(n)
    base = d.strftime("%Y-%m-%dT%H:%M:%S")
    if ndec:
        base += _frac_str(n, ndec)
    return base + "Z"


@_reg(BUILTINS, "sec2gmtdate")
@_absentify
def _bif_sec2gmtdate(it, args, raw):
    v = args[0]
    n = _to_num(v)
    if n is None:
        return v
    return _sec_to_dt(math.floor(n)).strftime("%Y-%m-%d")


@_reg(BUILTINS, "gmt2sec")
@_absentify
def _bif_gmt2sec(it, args, raw):
    s = _s(args[0])
    frac = 0.0
    mfrac = re.search(r"\d{2}(\.\d+)", s)
    if mfrac:
        # arbitrary-precision fraction (python %f caps at 6 digits)
        frac = float("0" + mfrac.group(1))
        s = s[: mfrac.start(1)] + s[mfrac.end(1):]
    for fmt in ("%Y-%m-%dT%H:%M:%SZ", "%Y-%m-%d",
                "%Y-%m-%dT%H:%M:%S", "%Y-%m-%d %H:%M:%S",
                "%Y-%m-%dT%H:%MZ", "%Y-%m-%dT%HZ"):
        try:
            d = _dt.datetime.strptime(s, fmt).replace(tzinfo=_UTC)
            ts = d.timestamp()
            if frac:
                return ts + frac
            return int(ts) if ts == int(ts) else ts
        except ValueError:
            continue
    return Err()


@_reg(BUILTINS, "sec2date")
@_absentify
def _bif_sec2date(it, args, raw):
    return _bif_sec2gmtdate(it, args, raw)


def _strftime_nanos_sub(s: str, n) -> str:
    """Fill the %N / %O placeholders with the timestamp's nanoseconds."""
    if "\x01NANO" not in s:
        return s
    nanos = int(round((n - math.floor(n)) * 1e9))
    return s.replace("\x01NANO9\x01", "%09d" % nanos).replace(
        "\x01NANOU\x01", "%d" % nanos
    )


def _translate_strftime(fmt: str):
    """C-strftime with Miller extensions %NS (N=1..9 fractional digits),
    %s epoch, %N nanoseconds."""
    out = []
    i = 0
    frac_digits = None
    while i < len(fmt):
        c = fmt[i]
        if c == "%" and i + 1 < len(fmt):
            d = fmt[i + 1]
            if d.isdigit() and i + 2 < len(fmt) and fmt[i + 2] == "S":
                out.append("%S")
                frac_digits = int(d)
                out.append("\x01FRAC\x01")
                i += 3
                continue
            if d == "N":  # nanoseconds, 9-digit (bifs/datetime.go:432)
                out.append("\x01NANO9\x01")
                i += 2
                continue
            if d == "O":  # nanoseconds, unpadded (bifs/datetime.go:438)
                out.append("\x01NANOU\x01")
                i += 2
                continue
            out.append("%" + d)
            i += 2
            continue
        out.append(c)
        i += 1
    return "".join(out), frac_digits


@_reg(BUILTINS, "strftime")
@_absentify
def _bif_strftime(it, args, raw):
    n = _to_num(args[0])
    if n is None:
        return Err() if not isinstance(args[0], str) or args[0] != "" else ""
    fmt = _s(args[1])
    pyfmt, frac_digits = _translate_strftime(fmt)
    d = _sec_to_dt(n)
    s = d.strftime(pyfmt)
    if frac_digits is not None:
        s = s.replace("\x01FRAC\x01", _frac_str(n, frac_digits))
    return _strftime_nanos_sub(s, n)


@_reg(BUILTINS, "strptime")
@_absentify
def _bif_strptime(it, args, raw):
    s, fmt = _s(args[0]), _s(args[1])
    pyfmt = fmt
    frac = 0.0
    # fractional seconds parse leniently: %S absorbs a trailing
    # fraction even without an explicit %f directive (reference
    # strptime; python %f also caps at 6 digits) — strip the fraction
    # from the input and add it back numerically
    pyfmt = re.sub(r"%\dS", "%S", pyfmt).replace("%S.%f", "%S")
    mfrac = re.search(r"\d(\.\d+)", s)
    if mfrac:
        frac = float("0" + mfrac.group(1))
        s = s[: mfrac.start(1)] + s[mfrac.end(1):]
    has_frac = bool(mfrac)
    for alias, exp in (("%F", "%Y-%m-%d"), ("%T", "%H:%M:%S"),
                       ("%D", "%m/%d/%y"), ("%R", "%H:%M"),
                       ("%r", "%I:%M:%S %p")):
        pyfmt = pyfmt.replace(alias, exp)
    try:
        if "%s" in pyfmt:
            # epoch directive: python strptime lacks %s portably
            m = re.fullmatch(pyfmt.replace("%s", r"(\d+)"), s)
            if not m:
                return Err()
            return int(m.group(1))
        d = _dt.datetime.strptime(s, pyfmt)
        if d.tzinfo is None:
            d = d.replace(tzinfo=_UTC)
    except ValueError:
        if "%Z" in pyfmt:
            # Go time.Parse accepts ANY zone abbreviation for %Z and,
            # lacking location info, treats it as offset 0
            # (dsl-local-date-time-functions/strptime-*: "... EST" ->
            # 0.345); python rejects unknown names — strip the token
            try:
                pyfmt2 = re.sub(r"\s*%Z\s*$", "", pyfmt)
                s2 = re.sub(r"\s*[A-Za-z][A-Za-z_/+-]*\s*$", "", s)
                d = _dt.datetime.strptime(s2, pyfmt2).replace(tzinfo=_UTC)
            except ValueError:
                return Err()
        else:
            return Err()
    ts = d.timestamp()
    if has_frac and frac:
        return ts + frac
    return int(ts)


@_reg(BUILTINS, "sec2dhms")
@_absentify
def _bif_sec2dhms(it, args, raw):
    n = _to_num(args[0])
    if n is None:
        raise _TypeErr()
    n = int(n)
    neg = n < 0
    n = abs(n)
    d, rem = divmod(n, 86400)
    h, rem = divmod(rem, 3600)
    m, s = divmod(rem, 60)
    if d:
        out = "%dd%02dh%02dm%02ds" % (d, h, m, s)
    elif h:
        out = "%dh%02dm%02ds" % (h, m, s)
    elif m:
        out = "%dm%02ds" % (m, s)
    else:
        out = "%ds" % s
    return "-" + out if neg else out


@_reg(BUILTINS, "fsec2dhms")
@_absentify
def _bif_fsec2dhms(it, args, raw):
    n = _to_num(args[0])
    if n is None:
        raise _TypeErr()
    neg = n < 0
    n = abs(n)
    d, rem = divmod(int(n), 86400)
    h, rem = divmod(rem, 3600)
    m = rem // 60
    s = n - d * 86400 - h * 3600 - m * 60
    if d:
        out = "%dd%02dh%02dm%09.6fs" % (d, h, m, s)
    elif h:
        out = "%dh%02dm%09.6fs" % (h, m, s)
    elif m:
        out = "%dm%09.6fs" % (m, s)
    else:
        out = "%.6fs" % s
    return "-" + out if neg else out


@_reg(BUILTINS, "sec2hms")
@_absentify
def _bif_sec2hms(it, args, raw):
    n = _to_num(args[0])
    if n is None:
        raise _TypeErr()
    n = int(n)
    neg = n < 0
    n = abs(n)
    h, rem = divmod(n, 3600)
    m, s = divmod(rem, 60)
    out = "%02d:%02d:%02d" % (h, m, s)
    return "-" + out if neg else out


@_reg(BUILTINS, "fsec2hms")
@_absentify
def _bif_fsec2hms(it, args, raw):
    n = _to_num(args[0])
    if n is None:
        raise _TypeErr()
    neg = n < 0
    n = abs(n)
    h, rem_f = divmod(n, 3600)
    m, s = divmod(rem_f, 60)
    out = "%02d:%02d:%09.6f" % (int(h), int(m), s)
    return "-" + out if neg else out


@_reg(BUILTINS, "dhms2sec")
@_absentify
def _bif_dhms2sec(it, args, raw):
    s = _s(args[0])
    neg = s.startswith("-")
    if neg:
        s = s[1:]
    if not re.fullmatch(r"(?:\d+[dhms])+", s):
        return Err()  # "123" / "-" / "" are not dhms forms
    total = 0
    for num, unit in re.findall(r"(\d+)([dhms])", s):
        total += int(num) * {"d": 86400, "h": 3600, "m": 60, "s": 1}[unit]
    return -total if neg else total


@_reg(BUILTINS, "dhms2fsec")
@_absentify
def _bif_dhms2fsec(it, args, raw):
    s = _s(args[0])
    neg = s.startswith("-")
    if neg:
        s = s[1:]
    if not re.fullmatch(r"(?:[\d.]+[dhms])+", s):
        return Err()
    total = 0.0
    for num, unit in re.findall(r"([\d.]+)([dhms])", s):
        total += float(num) * {"d": 86400, "h": 3600, "m": 60, "s": 1}[unit]
    return -total if neg else total


@_reg(BUILTINS, "hms2sec")
@_absentify
def _bif_hms2sec(it, args, raw):
    s = _s(args[0])
    neg = s.startswith("-")
    if neg:
        s = s[1:]
    parts = s.split(":")
    try:
        nums = [int(p) for p in parts]
    except ValueError:
        return Err()
    total = 0
    for p in nums:
        total = total * 60 + p
    return -total if neg else total


@_reg(BUILTINS, "hms2fsec")
@_absentify
def _bif_hms2fsec(it, args, raw):
    s = _s(args[0])
    neg = s.startswith("-")
    if neg:
        s = s[1:]
    parts = s.split(":")
    try:
        nums = [float(p) for p in parts]
    except ValueError:
        return Err()
    total = 0.0
    for p in nums:
        total = total * 60 + p
    return -total if neg else total


# nsec family


@_reg(BUILTINS, "gmt2nsec")
@_absentify
def _bif_gmt2nsec(it, args, raw):
    r = _bif_gmt2sec(it, args, raw)
    if isinstance(r, Err):
        return r
    return int(r * 1_000_000_000)


@_reg(BUILTINS, "nsec2gmt")
@_absentify
def _bif_nsec2gmt(it, args, raw):
    n = _to_num(args[0])
    if n is None:
        return args[0]
    ndec = args[1] if len(args) > 1 else 0
    sec = n / 1e9
    d = _sec_to_dt(math.floor(sec))
    base = d.strftime("%Y-%m-%dT%H:%M:%S")
    if ndec:
        # decimals TRUNCATE the nanosecond digits, never round
        # (dsl-sec2gmt/0004n: 05.123456789 @4 -> 05.1234)
        digits = "%09d" % (int(n) % 1_000_000_000)
        base += "." + digits[:ndec]
    return base + "Z"


@_reg(BUILTINS, "nsec2gmtdate")
@_absentify
def _bif_nsec2gmtdate(it, args, raw):
    n = _to_num(args[0])
    if n is None:
        return args[0]
    return _sec_to_dt(math.floor(n / 1e9)).strftime("%Y-%m-%d")


@_reg(BUILTINS, "strfntime")
@_absentify
def _bif_strfntime(it, args, raw):
    n = _to_num(args[0])
    if n is None:
        return Err()
    return _bif_strftime(it, [n / 1e9, args[1]], raw)


@_reg(BUILTINS, "strpntime")
@_absentify
def _bif_strpntime(it, args, raw):
    r = _bif_strptime(it, args, raw)
    if isinstance(r, Err):
        return r
    return int(round(r * 1e9))


def _local_ts(naive, tz) -> float:
    """Naive local datetime -> epoch seconds, matching Go's
    ParseInLocation on DST edges: nonexistent (gap) times resolve with
    the pre-gap offset (python fold=1 numerically), ambiguous times to
    the first occurrence (fold=0)."""
    d0 = naive.replace(tzinfo=tz)
    ts0 = d0.timestamp()
    back = _dt.datetime.fromtimestamp(ts0, tz).replace(tzinfo=None)
    if back != naive:  # gap: fold=0 roundtrip moved the wall time
        return naive.replace(tzinfo=tz, fold=1).timestamp()
    return ts0


# local-time variants need a TZ argument or TZ env; treat the explicit-
# argument forms as UTC-offset computations via zoneinfo
def _cur_tz(it):
    """Session timezone: a runtime ENV["TZ"] write overrides --tz
    (dsl-local-date-time-functions/strptime-z loops over zones)."""
    return it.env_overrides.get("TZ") or it.tz


def _tz(name):
    from zoneinfo import ZoneInfo

    try:
        return ZoneInfo(name)
    except Exception:
        raise _TypeErr()


def _tz_env(it):
    # session/ENV TZ path: a malformed zone is a FATAL, not an error
    # value (reference: 'mlr: TZ environment variable appears
    # malformed: "..."', dsl-local-date-time-functions/not-a-valid-*)
    name = _cur_tz(it)
    try:
        return _tz(name)
    except _TypeErr:
        raise MlrRuntimeError(
            f'TZ environment variable appears malformed: "{name}"'
        )


@_reg(BUILTINS, "sec2localtime")
@_absentify
def _bif_sec2localtime(it, args, raw):
    n = _to_num(args[0])
    if n is None:
        return args[0]
    if len(args) >= 2 and isinstance(args[-1], str):
        tz = _tz(args[-1])
    else:
        tz = _tz_env(it) if _cur_tz(it) else None
        if tz is None:
            raise DslUnsupported("sec2localtime without explicit TZ")
    ndec = (args[1] if len(args) >= 2 and isinstance(args[1], int)
            and not isinstance(args[1], bool) else 0)
    d = _dt.datetime.fromtimestamp(n, tz=tz)
    base = d.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(ndec, int) and ndec:
        base += _frac_str(n, ndec)
    return base


@_reg(BUILTINS, "sec2localdate")
@_absentify
def _bif_sec2localdate(it, args, raw):
    n = _to_num(args[0])
    if n is None:
        return args[0]
    if len(args) >= 2 and isinstance(args[-1], str):
        tz = _tz(args[-1])
    else:
        tz = _tz_env(it) if _cur_tz(it) else None
        if tz is None:
            raise DslUnsupported("sec2localdate without explicit TZ")
    return _dt.datetime.fromtimestamp(n, tz=tz).strftime("%Y-%m-%d")


@_reg(BUILTINS, "localtime2gmt")
@_absentify
def _bif_localtime2gmt(it, args, raw):
    # 2-arg form carries an explicit zone (localtime2gmt(t, tz)) —
    # only the 1-arg form needs the session TZ
    if not _cur_tz(it) and not (
        len(args) >= 2 and isinstance(args[-1], str)
    ):
        raise DslUnsupported("localtime2gmt without session TZ")
    sec = _bif_localtime2sec(it, args, raw)
    if isinstance(sec, Err):
        return sec
    return _bif_sec2gmt(it, [sec], raw)


@_reg(BUILTINS, "localtime2sec")
@_absentify
def _bif_localtime2sec(it, args, raw):
    s = _s(args[0])
    if len(args) >= 2 and isinstance(args[-1], str):
        tz = _tz(args[-1])
    else:
        tz = _tz_env(it) if _cur_tz(it) else None
        if tz is None:
            raise DslUnsupported("localtime2sec without explicit TZ")
    for fmt in ("%Y-%m-%d %H:%M:%S", "%Y-%m-%dT%H:%M:%SZ", "%Y-%m-%d"):
        try:
            naive = _dt.datetime.strptime(s, fmt)
        except ValueError:
            continue
        return int(_local_ts(naive, tz))
    return Err()


@_reg(BUILTINS, "localtime2nsec")
@_absentify
def _bif_localtime2nsec(it, args, raw):
    # reference pkg/bifs/datetimes.go: localtime2sec scaled to ns
    sec = _bif_localtime2sec(it, args, raw)
    if isinstance(sec, Err):
        return sec
    return int(sec) * 1_000_000_000


@_reg(BUILTINS, "strftime_local")
@_absentify
def _bif_strftime_local(it, args, raw):
    n = _to_num(args[0])
    if n is None:
        return Err()
    fmt = _s(args[1])
    if len(args) >= 3 and isinstance(args[2], str):
        tz = _tz(args[2])
    else:
        tz = _tz_env(it) if _cur_tz(it) else None
        if tz is None:
            raise DslUnsupported("strftime_local without explicit TZ")
    pyfmt, frac_digits = _translate_strftime(fmt)
    d = _dt.datetime.fromtimestamp(n, tz=tz)
    s = d.strftime(pyfmt)
    if frac_digits is not None:
        s = s.replace("\x01FRAC\x01", _frac_str(n, frac_digits))
    return _strftime_nanos_sub(s, n)


@_reg(BUILTINS, "strptime_local")
@_absentify
def _bif_strptime_local(it, args, raw):
    s, fmt = _s(args[0]), _s(args[1])
    if len(args) >= 3 and isinstance(args[2], str):
        tz = _tz(args[2])
    else:
        tz = _tz_env(it) if _cur_tz(it) else None
        if tz is None:
            raise DslUnsupported("strptime_local without explicit TZ")
    try:
        naive = _dt.datetime.strptime(s, fmt)
    except ValueError:
        return Err()
    ts = _local_ts(naive, tz)
    return int(ts) if ts == int(ts) else ts


@_reg(BUILTINS, "strfntime_local")
@_absentify
def _bif_strfntime_local(it, args, raw):
    n = _to_num(args[0])
    if n is None:
        return Err()
    return _bif_strftime_local(it, [n / 1e9] + args[1:], raw)


@_reg(BUILTINS, "strpntime_local")
@_absentify
def _bif_strpntime_local(it, args, raw):
    r = _bif_strptime_local(it, args, raw)
    if isinstance(r, Err):
        return r
    return int(round(r * 1e9))


@_reg(BUILTINS, "nsec2localtime")
@_absentify
def _bif_nsec2localtime(it, args, raw):
    n = _to_num(args[0])
    if n is None:
        return args[0]
    rest = args[1:]
    return _bif_sec2localtime(it, [n / 1e9] + rest, raw)


@_reg(BUILTINS, "nsec2localdate")
@_absentify
def _bif_nsec2localdate(it, args, raw):
    n = _to_num(args[0])
    if n is None:
        return args[0]
    return _bif_sec2localdate(it, [n / 1e9] + args[1:], raw)


@_reg(BUILTINS, "gmt2localtime")
@_absentify
def _bif_gmt2localtime(it, args, raw):
    sec = _bif_gmt2sec(it, [args[0]], raw)
    if isinstance(sec, Err):
        return sec
    return _bif_sec2localtime(it, [sec] + args[1:], raw)


@_reg(BUILTINS, "sparkline")
@_absentify
def _bif_sparkline(it, args, raw):
    ns = _numeric_list(args[0])
    if not ns:
        return ""
    ticks = "▁▂▃▄▅▆▇█"
    lo, hi = min(ns), max(ns)
    if hi == lo:
        return ticks[0] * len(ns)
    return "".join(
        ticks[min(int((v - lo) / (hi - lo) * 8), 7)] for v in ns
    )


@_reg(BUILTINS, "bytes")
@_absentify
def _bif_bytes(it, args, raw):
    raise DslUnsupported("bytes type")


# --------------------------------------------------------------------------
# public entry
# --------------------------------------------------------------------------


def run_stream(
    program: str,
    records: list[dict],
    mode: str = "put",
    emit_only: bool = False,
    file_ctx: list | None = None,
    flatsep: str = ".",
    presets: dict | None = None,
    json_input: bool = False,
    invert: bool = False,
    typed: bool = False,
    tz: str | None = None,
    env: dict | None = None,
    **kwargs,
):
    """Execute a full-DSL program over a record stream.

    records: list of dicts (values already Miller-typed or raw strings —
    raw strings are inferred). Returns a list of ("rec", dict) /
    ("txt", str) items; "rec" dicts are flattened canonical form.
    """
    if presets:
        presets = {k: infer_value(v) if isinstance(v, str) else v
                   for k, v in presets.items()}
    interp = StreamInterp(
        program, mode=mode, emit_only=emit_only, presets=presets,
        flatsep=flatsep, invert=invert, tz=tz, env=env,
        allow_filter_stmt=kwargs.get("allow_filter_stmt", False),
    )
    interp.redirect_ofmt = kwargs.get("redirect_ofmt")
    nrs = kwargs.get("nrs")
    final_nr = kwargs.get("final_nr")
    native = kwargs.get("native", False)
    prev_ofmt = current_ofmt()
    set_ofmt(kwargs.get("ofmt"))
    prepared = []
    for rec in records:
        if native:
            # nested typed records (JSON reader): no re-inference, no
            # flatten round-trip — shape and scalar types are exact
            prepared.append(dict(rec))
            continue
        r2 = {}
        for k, v in rec.items():
            r2[k] = infer_value(v) if isinstance(v, str) else v
        if json_input:
            r2 = unflatten_record(r2, flatsep)
        prepared.append(r2)
    fmt = kwargs.get("ofmt")
    # quantize=False (mid-chain use): keep full float precision — OFMT
    # is an OUTPUT format; a downstream verb must see the unrounded
    # double (reference applies ofmt only in the record writers;
    # golden verb-sec2gmt/0009-0010: put then sec2gmt -8)
    quantize = kwargs.get("quantize", True)

    def _typed_out(v):
        if isinstance(v, Err):
            return "(error)"
        if v is ABSENT:
            return None
        if not quantize and isinstance(v, float):
            return float(v)
        if fmt and isinstance(v, float) and v == v and v not in (
            float("inf"), float("-inf")
        ):
            # quantize to print precision so value-compare sees what
            # the reference printed (MLR_OFMT) — carrying the printed
            # form as the printrep so the byte path renders it verbatim
            # (a bare float(fmt % v) re-canonicalizes 0.00000000 -> "0",
            # losing the float-typing the writers re-scan for)
            s = fmt % v
            return PFloat(float(s), s)
        return v

    nat_out = kwargs.get("nat_out")  # optional NESTED-record sink for
    # the byte-render path (values typed, nesting as the program left it)

    def _post(items):
        out = []
        for kind, payload in items:
            if kind == "rec":
                if nat_out is not None:
                    nat_out.append(payload)
                flat: dict = {}
                for k, v in payload.items():
                    flatten_into(flat, str(format_value(k)), v, flatsep)
                if typed:
                    # keep native int/float/bool for Spark schema
                    # alignment
                    out.append((
                        "rec",
                        {k: _typed_out(v) for k, v in flat.items()},
                    ))
                else:
                    out.append(
                        ("rec",
                         {k: format_value(v) for k, v in flat.items()})
                    )
            else:
                out.append((kind, payload))
        return out

    try:
        items = interp.run(prepared, file_ctx=file_ctx, nrs=nrs,
                           final_nr=final_nr)
        err_sink = kwargs.get("err_sink")
        if err_sink is not None:
            # stderr channel (redirect > stderr, eprint/edump): handed
            # back to the caller for experr comparison
            err_sink.extend(_post(interp.err))
        return _post(items)
    finally:
        set_ofmt(prev_ofmt)


def dump_text(v, level: int = 0) -> str:
    """Miller's dump/print JSON layout: maps multiline at 2-space
    indent, arrays of scalars single-line, nested structure recursive
    (reference pkg/mlrval json output, dsl-dump-print goldens)."""
    pad = "  " * level
    pad2 = "  " * (level + 1)
    if isinstance(v, dict):
        if not v:
            return "{}"
        parts = []
        for k, x in v.items():
            parts.append(f'{pad2}"{format_value(k)}": {dump_text(x, level + 1)}')
        return "{\n" + ",\n".join(parts) + "\n" + pad + "}"
    if isinstance(v, list):
        if not v:
            return "[]"
        if all(not isinstance(x, (dict, list)) for x in v):
            return "[" + ", ".join(_dump_scalar(x) for x in v) + "]"
        parts = [pad2 + dump_text(x, level + 1) for x in v]
        return "[\n" + ",\n".join(parts) + "\n" + pad + "]"
    return _dump_scalar(v)


def _dump_scalar(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if v is NULL:
        return "null"
    if v is ABSENT:
        return "(absent)"
    if isinstance(v, Err):
        return "(error)"
    if isinstance(v, (int, float)):
        return str(format_value(v))
    return json.dumps(str(v), ensure_ascii=False)
