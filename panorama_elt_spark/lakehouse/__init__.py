from .fileio import FileIO, InMemoryFileIO, LocalFileIO
from .schema import Field, TableSchema, AddColumn, WidenColumn, RenameColumn, diff_schemas
from .snapshot import Snapshot, CommitConflict, UnsupportedFormatVersion
from .table import LakeTable

__all__ = [
    "Field",
    "TableSchema",
    "AddColumn",
    "WidenColumn",
    "RenameColumn",
    "diff_schemas",
    "Snapshot",
    "CommitConflict",
    "UnsupportedFormatVersion",
    "LakeTable",
    "FileIO",
    "LocalFileIO",
    "InMemoryFileIO",
]
