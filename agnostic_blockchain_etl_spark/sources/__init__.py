"""Sources & sinks (SURVEY.md §2.2): partitioned parquet tables with
Replacing semantics, proxy (JDBC) tables, refreshable dictionaries."""

from .dictionary import RefreshableDictionary
from .replacing import compact_replacing, read_replacing

__all__ = ["compact_replacing", "read_replacing",
           "RefreshableDictionary"]
