"""SQL template loading + rendering (Go text/template parity subset).

Reference: internal/utils/utils.go:77-106 loads every ``*.sql`` under a
pipeline dir into one Go template set (sprig functions, ``missingkey=
default``); vars come from CLI ``--var k=v``, env ``AGN_*`` and the injected
``UUID``/``NUMBER``/``START``/``END`` (internal/pipeline/batcher.go:76-78).

The reference's templates use exactly three constructs (verified by
enumerating ``{{…}}`` across examples/*.sql):

- ``{{.VAR}}``                      — variable substitution
- ``{{.VAR | default "fallback"}}`` — sprig default filter
- ``{{ if .VAR }} … {{ end }}``     — conditional block (no else/loops used)

This renderer implements those exactly (plus ``else`` for completeness),
with Go's ``missingkey=default`` behavior: a missing variable renders as
``<no value>`` and counts as falsy in ``if``.

On top of those, the engine's own templates call three functions, in Go's
function-call syntax (``{{ hexDecode "b.hash" }}``; Go registers such
functions through a ``FuncMap``). They expand at render time to the Spark
built-in form of the reference's ≤64-bit hex UDFs (SURVEY.md §2.7), so a
plan decodes hex in whole-stage codegen instead of a Python worker, and
the form is written once, here:

- ``hexDecode "x"`` — ``evm_hex_decode(x)``;
- ``hexDecodeInt "x" "UInt64" ["BIGINT"]`` — ``evm_hex_decode_int(x, T)``
  as a Spark integer type (``BIGINT`` by default);
- ``hexEncodeInt "id"`` — ``evm_hex_encode_int(id)``.

The decodes read input the way ``functions/hex.py`` does (an optional
``0x``/``0X`` prefix, then hex digits; NULL stays NULL) and are as strict,
whatever ``spark.sql.ansi.enabled`` says: malformed input, and a quantity
past ``T`` or the Spark type, fail the query with
``CONVERSION_INVALID_INPUT`` from ``to_binary(…, 'hex')``. ``unhex`` would
give NULL there and ``conv`` stops at the first bad digit. The checks
are regular expressions inside the value expression rather than a
``CASE … raise_error`` per field: a buffer view is analysed twice per
batch, and the conditional form added more than twice as much analysis
time. Each form names its argument once, so the argument may be any
expression.
"""

from __future__ import annotations

import re
from pathlib import Path

_ACTION_RE = re.compile(r"\{\{(.*?)\}\}", re.S)
_CALL_RE = re.compile(r'^([A-Za-z]\w*)((?:\s+"[^"]*")*)$')
_NO_VALUE = "<no value>"

# non-negative bits of the reference and Spark integer types the
# templates decode to
_REF_BITS = {"UInt8": 8, "UInt32": 32, "UInt64": 64, "Int64": 63}
_SQL_BITS = {"TINYINT": 7, "INT": 31, "BIGINT": 63}


class TemplateError(ValueError):
    pass


def _quantity_re(bits: int) -> str:
    """A regex for the hex digits of the quantities below ``2**bits``:
    after the leading zeros, at most ``ceil(bits / 4)`` nibbles, and when
    ``bits`` is not a multiple of 4, a first nibble below
    ``2**(bits % 4)``."""
    n = -(-bits // 4)
    top = bits - 4 * (n - 1)
    if top == 4:
        return f"0*[0-9a-fA-F]{{0,{n}}}"
    return f"0*[0-{2 ** top - 1}]?[0-9a-fA-F]{{0,{n - 1}}}"


def hex_decode(x: str) -> str:
    return f"to_binary(regexp_replace({x}, '^0[xX]', ''), 'hex')"


def hex_decode_int(x: str, ref_type: str, sql_type: str = "BIGINT") -> str:
    if ref_type not in _REF_BITS or sql_type not in _SQL_BITS:
        raise TemplateError(
            f"hexDecodeInt: unsupported types {ref_type!r}, {sql_type!r}; "
            f"have {sorted(_REF_BITS)} and {sorted(_SQL_BITS)}")
    digits = _quantity_re(min(_REF_BITS[ref_type], _SQL_BITS[sql_type]))
    # an in-range quantity becomes '0' + its digits ('0x' -> 0); anything
    # else keeps the '#' mark, which to_binary rejects. The to_binary/hex
    # round trip only makes that check part of the value.
    checked = (f"regexp_replace(concat('#', {x}), "
               f"'^#(?:0[xX])?({digits})$', '0$1')")
    return f"CAST(conv(hex(to_binary({checked}, 'hex')), 16, 10) AS {sql_type})"


def hex_encode_int(x: str) -> str:
    return f"concat('0x', lower(hex({x})))"


_FUNCS = {"hexDecode": hex_decode, "hexDecodeInt": hex_decode_int,
          "hexEncodeInt": hex_encode_int}


def _eval_call(name: str, args: list[str]) -> str:
    fn = _FUNCS.get(name)
    if fn is None:
        raise TemplateError(f"unknown template function {name!r}")
    try:
        return fn(*args)
    except TypeError as ex:
        raise TemplateError(f"{name}: {ex}") from ex


def _eval_expr(expr: str, vars: dict) -> str:
    """Evaluate a `{{…}}` substitution expression (`.VAR` with filters,
    or a function call with string arguments)."""
    call = _CALL_RE.match(expr.strip())
    if call:
        return _eval_call(call.group(1), re.findall(r'"([^"]*)"', call.group(2)))
    parts = [p.strip() for p in expr.split("|")]
    head = parts[0]
    if not head.startswith("."):
        raise TemplateError(f"unsupported template expression {expr!r}")
    value = vars.get(head[1:], None)
    for filt in parts[1:]:
        m = re.match(r'^default\s+(?:"([^"]*)"|\'([^\']*)\'|(\S+))$', filt)
        if not m:
            raise TemplateError(f"unsupported filter {filt!r}")
        # sprig's `default` replaces any EMPTY value — nil, "", 0,
        # false, empty collections — not just nil/"" (review finding:
        # batch 0 injects START=0, and `{{.START | default "latest"}}`
        # must render 'latest' exactly as Go+sprig does, or reference
        # templates silently produce different SQL)
        if value in (None, "", 0, 0.0, False) or value in ([], {}, ()):
            value = m.group(1) if m.group(1) is not None else (
                m.group(2) if m.group(2) is not None else m.group(3))
    if value is None:
        return _NO_VALUE
    return str(value)


def _truthy(expr: str, vars: dict) -> bool:
    expr = expr.strip()
    if not expr.startswith("."):
        raise TemplateError(f"unsupported if-condition {expr!r}")
    v = vars.get(expr[1:], None)
    return v not in (None, "", False, 0, "false", "False")


def render_string(template: str, vars: dict) -> str:
    """Render one template string with Go-template-compatible semantics."""
    out: list[str] = []
    emit_stack = [True]  # nested if-block emission state
    pos = 0
    for m in _ACTION_RE.finditer(template):
        if all(emit_stack):
            out.append(template[pos:m.start()])
        pos = m.end()
        action = m.group(1).strip()
        if action.startswith("if "):
            emit_stack.append(_truthy(action[3:], vars))
        elif action == "else":
            if len(emit_stack) < 2:
                raise TemplateError("'else' outside if block")
            emit_stack[-1] = not emit_stack[-1]
        elif action == "end":
            if len(emit_stack) < 2:
                raise TemplateError("'end' without matching 'if'")
            emit_stack.pop()
        else:
            if all(emit_stack):
                out.append(_eval_expr(action, vars))
    if len(emit_stack) != 1:
        raise TemplateError("unclosed 'if' block")
    out.append(template[pos:])
    return "".join(out)


class TemplateSet:
    """All ``*.sql`` files under a pipeline directory, by file name.

    Mirrors utils.LoadTemplates (internal/utils/utils.go:31-39): templates
    are addressed by base name (``create_buffer.sql``)."""

    def __init__(self, templates: dict[str, str]):
        self.templates = dict(templates)

    @classmethod
    def load(cls, path: str | Path) -> "TemplateSet":
        """Load every ``*.sql`` under a local dir or an object-store prefix
        (file/s3 — listable schemes; utils.LoadTemplates:77-106 does the
        same ListPrefix walk)."""
        from .objstr import ObjstrError, list_sql
        try:
            return cls(list_sql(str(path)))
        except ObjstrError as ex:
            raise TemplateError(str(ex)) from ex

    def names(self) -> list[str]:
        return sorted(self.templates)

    def render(self, name: str, vars: dict) -> str:
        if name not in self.templates:
            raise TemplateError(
                f"template {name!r} not found; have {self.names()}")
        return render_string(self.templates[name], vars)
