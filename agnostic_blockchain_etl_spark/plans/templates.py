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
built-in form of the reference's ≤64-bit hex kernels (SURVEY.md §2.7),
defined once in ``functions/hexsql.py``, so a plan decodes hex in
whole-stage codegen instead of a Python worker:

- ``hexDecode "x"`` — ``evm_hex_decode(x)``;
- ``hexDecodeInt "x" "UInt64" ["BIGINT"]`` — ``evm_hex_decode_int(x, T)``
  as a Spark integer type (``BIGINT`` by default);
- ``hexEncodeInt "id"`` — ``evm_hex_encode_int(id)``.

The registered SQL functions of those names are not called: Spark
re-inlines a SQL function at each call site, which slowed analysis.
"""

from __future__ import annotations

import re
from pathlib import Path

from ..functions.hexsql import hex_decode, hex_decode_int, hex_encode

_ACTION_RE = re.compile(r"\{\{(.*?)\}\}", re.S)
_CALL_RE = re.compile(r'^([A-Za-z]\w*)((?:\s+"[^"]*")*)$')
_NO_VALUE = "<no value>"


class TemplateError(ValueError):
    pass


_FUNCS = {"hexDecode": hex_decode, "hexDecodeInt": hex_decode_int,
          "hexEncodeInt": hex_encode}


def _eval_call(name: str, args: list[str]) -> str:
    fn = _FUNCS.get(name)
    if fn is None:
        raise TemplateError(f"unknown template function {name!r}")
    try:
        return fn(*args)
    except (TypeError, ValueError) as ex:
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
