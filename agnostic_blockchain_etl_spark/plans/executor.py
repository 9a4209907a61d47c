"""Query executor protocol — the engine/conn seam.

Reference: internal/engine/engine.go:8-39 defines ``Engine/Conn`` with
``Exec`` (DDL/INSERT) and ``Select`` (typed single-row reads) plus
``QueryMetadata``. Our Spark implementation executes rendered SQL through
``spark.sql``; a fake executor backs fast orchestration tests without a JVM.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field

from pyspark.errors import PySparkException


@dataclass
class QueryMetadata:
    """internal/engine/engine.go:28-39."""
    rows: int = 0
    elapsed_s: float = 0.0


class Executor:
    """Minimal Conn-like interface (engine.go:20-26)."""

    def exec(self, sql: str) -> QueryMetadata:
        raise NotImplementedError

    def select(self, sql: str) -> list[dict]:
        raise NotImplementedError

    def apply_settings(self, settings: dict) -> None:
        """Per-stage engine settings (reference: stage.go:88-90 attaches
        ClickHouse settings per query; Spark confs are session-scoped, so
        stages apply them once at worker start — concurrent stages with
        conflicting settings should use distinct sessions)."""


def split_statements(sql: str) -> list[str]:
    """Split a rendered .sql file into statements on top-level semicolons
    (string-literal aware). Reference files hold one statement each, but we
    accept multi-statement files for convenience.

    Quotes follow Spark's lexer: a backslash escapes the next character in
    a '…' or "…" literal, but not in a raw r'…'/R"…" literal nor in a
    `…` identifier; a doubled quote (`a``b`) reads as close-and-reopen."""
    parts, cur, i, n = [], [], 0, len(sql)
    in_str: str | None = None
    escapes = False
    while i < n:
        ch = sql[i]
        if in_str:
            cur.append(ch)
            if escapes and ch == "\\" and i + 1 < n:
                # backslash-escaped char inside a literal (e.g. 'it\'s')
                cur.append(sql[i + 1])
                i += 2
                continue
            if ch == in_str:
                in_str = None
            i += 1
            continue
        if ch in ("'", '"', "`"):
            in_str = ch
            # a raw-string prefix is an r/R that starts its own token
            raw = (i > 0 and sql[i - 1] in "rR"
                   and not (i > 1 and (sql[i - 2].isalnum()
                                       or sql[i - 2] == "_")))
            escapes = ch != "`" and not raw
            cur.append(ch)
        elif ch == "-" and sql[i:i + 2] == "--":
            j = sql.find("\n", i)
            j = n if j < 0 else j
            cur.append(sql[i:j])
            i = j
            continue
        elif ch == "/" and sql[i:i + 2] == "/*":
            # bracketed comment (Spark SQL supports them): a ';' or
            # quote inside one must not split/flip state — review
            # finding ("/* don't */ SELECT 1; SELECT 2" glued both
            # statements). Spark's comments NEST (/* a /* b */ c */ is
            # one comment), so track depth rather than the first '*/'.
            # Unterminated → consume to EOF (the parser will complain
            # with the real error).
            j, depth = i + 2, 1
            while j < n and depth:
                if sql[j:j + 2] == "/*":
                    depth += 1
                    j += 2
                elif sql[j:j + 2] == "*/":
                    depth -= 1
                    j += 2
                else:
                    j += 1
            cur.append(sql[i:j])
            i = j
            continue
        elif ch == ";":
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


# error conditions of ``spark.conf.set`` on a conf that cannot change
# after the session starts (static SQL confs, Spark core confs)
_CANNOT_MODIFY_CONF = ("CANNOT_MODIFY_STATIC_CONFIG", "CANNOT_MODIFY_CONFIG")


class SparkExecutor(Executor):
    """Executes rendered SQL via ``spark.sql`` (thread-safe; concurrent
    stage workers run in FAIR scheduler pools set by the Stage)."""

    def __init__(self, spark):
        self.spark = spark

    def apply_settings(self, settings: dict) -> None:
        """Confs fixed at session start are skipped; any other error (a
        value of the wrong type, say) fails the stage."""
        for k, v in (settings or {}).items():
            if k.startswith("spark."):
                try:
                    self.spark.conf.set(k, str(v))
                except PySparkException as e:
                    if e.getCondition() not in _CANNOT_MODIFY_CONF:
                        raise

    def exec(self, sql: str) -> QueryMetadata:
        t0 = time.monotonic()
        rows = 0
        for stmt in split_statements(sql):
            df = self.spark.sql(stmt)
            # DDL/INSERT return empty DataFrames eagerly; plain SELECT as a
            # stage file is executed for effect (reference Exec semantics).
            if df.columns:
                rows = df.count()
        return QueryMetadata(rows=rows, elapsed_s=time.monotonic() - t0)

    def select(self, sql: str) -> list[dict]:
        stmts = split_statements(sql)
        out: list[dict] = []
        for i, stmt in enumerate(stmts):
            df = self.spark.sql(stmt)
            if i == len(stmts) - 1:
                out = [r.asDict(recursive=True) for r in df.collect()]
        return out


def select_single_row(executor: Executor, sql: str) -> dict:
    """Exactly-one-row select (internal/ch/select.go:44-46 errors on ≠1)."""
    rows = executor.select(sql)
    if len(rows) != 1:
        raise RuntimeError(
            f"expected exactly 1 row, got {len(rows)} from: {sql[:200]}")
    return rows[0]
