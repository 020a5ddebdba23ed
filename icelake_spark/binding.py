"""Column binding: which physical column of a data file is which field
of a read schema, the one rule of both readers (TableScan.read_mapped
and the Python DataSource). A column's identity is its field id (the
spec's column projection; icelake's FieldProjector): the table's own
files that record field ids bind by id. Every other file (an add_files
import outside the table directory, whose ids belong to another table;
an id-less file; ORC; Avro read by Spark) binds by current name, then by
a former name from the schema history (`metadata.schemas`), and raises
on a name that ever belonged to another field id, which such a file
cannot tell apart.
"""

from __future__ import annotations

from dataclasses import dataclass

# Spark's field-id parquet reader (a read field with FIELD_ID_KEY
# metadata binds by id): Spark reads the conf when a frame is planned,
# not when it is built, so it is set on the session and kept.
FIELD_ID_READ = "spark.sql.parquet.fieldId.read.enabled"
FIELD_ID_KEY = "parquet.field.id"


def is_foreign_file(table_path: str, file_path: str) -> bool:
    """True when `file_path` lives outside the table's directory: an
    add_files import, whose field ids belong to another table's id
    space and must not bind by id."""
    from .fileio import norm_path

    base = norm_path(table_path).rstrip("/")
    p = norm_path(file_path)
    return not (p == base or p.startswith(base + "/"))


def parquet_ids(pa_schema) -> dict[int, str]:
    """{field id: top-level physical name} an Arrow schema records."""
    return {int(v): f.name for f in pa_schema
            if (v := (f.metadata or {}).get(b"PARQUET:field_id"))
            and v.isdigit()}


def recorded_ids(table_path: str, file_path: str,
                 ids: dict[int, str]) -> dict[int, str]:
    """The ids a file binds by: the {field id: physical name} it records
    (`ids`), or {} when it is foreign. Non-empty means it binds by id."""
    return {} if is_foreign_file(table_path, file_path) else ids


@dataclass(frozen=True)
class NameBinding:
    """How a file that does not bind by id binds a read schema's
    top-level columns: {read name: former names} and the read names
    that cannot bind by name."""
    former: dict[str, tuple[str, ...]]
    reused: frozenset[str]

    def names(self, name: str) -> tuple[str, ...]:
        """`name`, then its former names, to look up in such a file."""
        if name in self.reused:
            raise ValueError(
                f"column {name!r} shares a name, current or former, with "
                f"another column of the schema history; a data file "
                f"without field ids cannot tell them apart")
        return (name, *self.former.get(name, ()))


def name_binding(metadata, schema) -> NameBinding:
    """The NameBinding of read schema `schema` over the schema history
    of its id space (a REPLACE TABLE starts a fresh one, sharing no
    field id with the schema before, and removes every file): former
    names are the other names a field id had; a read name is reused
    when it or a former name ever belonged to another field id."""
    history: list = []
    for s in metadata.schemas:
        if history and not ({f.field_id for f in s.fields}
                            & {f.field_id for f in history[-1].fields}):
            if any(h.schema_id == schema.schema_id for h in history):
                break
            history = []
        history.append(s)
    ids_of: dict[str, set[int]] = {}
    names_of: dict[int, dict[str, None]] = {}
    for s in (*history, schema):
        for f in s.fields:
            ids_of.setdefault(f.name, set()).add(f.field_id)
            names_of.setdefault(f.field_id, {})[f.name] = None
    former, reused = {}, set()
    for f in schema.fields:
        old = tuple(n for n in names_of[f.field_id] if n != f.name)
        if old:
            former[f.name] = old
        if any(ids_of[n] != {f.field_id} for n in (f.name, *old)):
            reused.add(f.name)
    return NameBinding(former, frozenset(reused))


def source_column(name: str, field_id: int | None, ids: dict[int, str],
                  present, binding: NameBinding) -> str | None:
    """The physical column of a file holding read column `name`: by
    field id when the file binds by id (`ids`, see recorded_ids; an
    unrecorded id is a column the file never had, e.g. one dropped and
    re-added, and reads NULL), else the first of binding.names(name)
    among the file's column names `present`. None reads NULL."""
    if ids:
        return ids.get(field_id)
    return next((n for n in binding.names(name) if n in present), None)
