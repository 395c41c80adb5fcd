"""Stage 1: per-file tabular-structure extraction (imports / symbol defs /
manifest dependency rows) via vectorized Arrow UDFs.

Inside ``mapInPandas`` everything is pandas ``str.extractall`` — vectorized
over Arrow record batches, never row-at-a-time Python. Per-file row
numbering (``row_idx`` = index of the structure within its file) happens
here, not in a global window (SURVEY.md §7.4-4). The input is extracted
straight off the scan unless the caller asks for a
``repartitionByRange(repo, path)`` layout first.

The per-row invariant ``content_sha256 = sha256(content)`` is computed
JVM-side (``F.sha2``) when the source does not already carry it, and
leaves the UDF once per file, on the ``kind='file'`` row that every
extraction emits (BASELINE.json input_hint). Structure rows carry no sha;
:func:`unpack_files` turns the file rows back into the file table the
graph's per-file triples derive from, so the job reads content once.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EXTRACT_SCHEMA = (
    "repo string, path string, commit string, lang string, "
    "kind string, name string, detail string, row_idx int"
)
_CARRY = ["repo", "path", "commit", "lang"]
_OUT_COLS = _CARRY + ["kind", "name", "detail", "row_idx"]

# per-language extraction rules == the CSVW-style "metadata" of the virtual
# tables (each regex plays the role of a column datatype/format annotation)
LANG_RULES: dict[str, list[tuple[str, str, int]]] = {
    # lang -> [(kind, regex-with-named-groups, flags)]
    "python": [
        ("import", r"^import\s+(?P<name>[\w.]+)(?:\s+as\s+(?P<detail>\w+))?", re.M),
        ("import", r"^from\s+(?P<name>[\w.]+)\s+import\s+(?P<detail>[\w*, ]+)", re.M),
        ("def", r"^\s*def\s+(?P<name>\w+)\s*\((?P<detail>[^)]*)\)", re.M),
        ("class", r"^\s*class\s+(?P<name>\w+)", re.M),
    ],
    "ruby": [
        ("import", r"^require\s+['\"](?P<name>[\w./-]+)['\"]", re.M),
        ("def", r"^\s*def\s+(?P<name>[\w?!]+)", re.M),
        ("class", r"^\s*class\s+(?P<name>\w+)", re.M),
    ],
    "javascript": [
        ("import", r"require\(['\"](?P<name>[\w./@-]+)['\"]\)", 0),
        ("import", r"^import\s+.*?from\s+['\"](?P<name>[\w./@-]+)['\"]", re.M),
        ("def", r"function\s+(?P<name>\w+)\s*\(", 0),
        ("class", r"class\s+(?P<name>\w+)", 0),
    ],
    "json": [
        ("dep", r"\"(?P<name>[\w./@-]+)\"\s*:\s*\"(?P<detail>[~^]?[\d][\w.+-]*)\"", 0),
    ],
    # polyglot extension (r2): same kind vocabulary (import/def/class/dep)
    # so annotation, linking and graph assembly work unchanged. Regexes stay
    # inside the Python-re ∩ RE2 common dialect (no lookaround, no
    # backrefs) so the DuckDB oracle twin matches byte-for-byte.
    "go": [
        ("import", r"^import\s+(?:(?P<detail>\w+)\s+)?\"(?P<name>[\w./-]+)\"", re.M),
        ("def", r"^func\s+(?:\([^)]*\)\s+)?(?P<name>\w+)\s*\(", re.M),
        ("class", r"^type\s+(?P<name>\w+)\s+(?P<detail>struct|interface)", re.M),
    ],
    "rust": [
        ("import", r"^use\s+(?P<name>[\w:]+)", re.M),
        ("def", r"^\s*(?:pub\s+)?fn\s+(?P<name>\w+)", re.M),
        ("class", r"^(?:pub\s+)?(?P<detail>struct|enum)\s+(?P<name>\w+)", re.M),
    ],
    "java": [
        ("import", r"^import\s+(?:static\s+)?(?P<name>[\w.]+);", re.M),
        ("class", r"(?P<detail>class|interface)\s+(?P<name>\w+)", re.M),
        ("def",
         r"(?:public|private|protected)\s+(?:static\s+)?[\w<>\[\]]+\s+(?P<name>\w+)\s*\(",
         re.M),
    ],
    "toml": [
        ("dep", r"^(?P<name>[\w-]+)\s*=\s*\"(?P<detail>[^\"]+)\"", re.M),
    ],
    "c": [
        ("import", r"^\s*#\s*include\s*[<\"](?P<name>[\w./]+)[>\"]", re.M),
        ("def",
         r"^(?:static\s+)?(?:\w+\s+)+(?P<name>\w+)\s*\([^;\n]*\)\s*\{", re.M),
        ("class", r"^(?:typedef\s+)?(?P<detail>struct|union|enum)\s+(?P<name>\w+)", re.M),
    ],
}


#: ``kind`` of the one row per input file that extraction always emits:
#: ``name`` null, ``row_idx`` -1, ``detail`` = sha256(content) as hex
FILE_ROW_KIND = "file"


def extract_structures(source: DataFrame,
                       range_partitions: int | None = None) -> DataFrame:
    """source(repo, path, commit, lang, content[, content_sha256]) -> one
    row per extracted structure plus one :data:`FILE_ROW_KIND` row per
    file, all of :data:`EXTRACT_SCHEMA`.

    *range_partitions* ``None`` extracts straight off the scan. One
    source row IS one file, so extraction and per-file numbering never
    need colocation, and a production source table at 10^12 files is
    already written sorted by (repo, path): re-shuffling 100 TB of
    ``content`` to recreate that layout would be the job's largest cost.
    Scan parallelism then comes from file splits (size
    ``spark.sql.files.maxPartitionBytes`` accordingly). An int first
    ``repartitionByRange(n, repo, path)``s the input, so the output lands
    repo-contiguous.

    ``content_sha256`` is computed JVM-side (``F.sha2``) only when the
    source lacks it, and rides into the UDF as a column; it leaves only on
    the file rows, which carry the per-file triple bundle (see
    :func:`unpack_files`), so the graph never re-scans content for it."""
    import pandas as pd

    from ..deploy import ensure_py_files

    ensure_py_files(source.sparkSession)
    if "content_sha256" not in source.columns:
        source = source.withColumn(
            "content_sha256", F.sha2(F.col("content"), 256))
    arranged = source.select(*_CARRY, "content", "content_sha256")
    if range_partitions is not None:
        arranged = arranged.repartitionByRange(range_partitions, "repo", "path")

    def run(iterator):
        compiled = {
            lang: [(kind, re.compile(rx, fl)) for kind, rx, fl in rules]
            for lang, rules in LANG_RULES.items()
        }
        for pdf in iterator:
            outs = []
            for lang, rules in compiled.items():
                sub = pdf[pdf["lang"] == lang]
                if sub.empty:
                    continue
                for kind, rx in rules:
                    # vectorized: one extractall per (rule, batch)
                    found = sub["content"].str.extractall(rx)
                    if found.empty:
                        continue
                    # extractall index level 0 = source row labels in `sub`
                    src_labels = found.index.get_level_values(0)
                    src = sub.loc[src_labels]
                    frame = pd.DataFrame(
                        {c: src[c].values for c in _CARRY} | {
                            "kind": kind,
                            "name": found["name"].values,
                            "detail": found["detail"].values
                            if "detail" in found else None,
                        })
                    outs.append(frame)
            if outs:
                allf = pd.concat(outs, ignore_index=True)
                # per-file structure numbering — no global window (C16 analog)
                allf["row_idx"] = allf.groupby(
                    ["repo", "path"]).cumcount().astype("int32")
                outs = [allf]
            file_rows = pd.DataFrame(
                {c: pdf[c].values for c in _CARRY} | {
                    "kind": FILE_ROW_KIND,
                    "name": None,
                    "detail": pdf["content_sha256"].values,
                    "row_idx": -1,
                })
            yield pd.concat(outs + [file_rows], ignore_index=True)[_OUT_COLS]

    return arranged.mapInPandas(run, schema=EXTRACT_SCHEMA)


def unpack_files(extracted: DataFrame) -> DataFrame:
    """The (repo, path, commit, lang, content_sha256) table of the files
    an extraction output covers, read from its file rows — the columns
    :func:`~rdf_tabular_spark.kg.annotate.file_level_triples` and
    :func:`~rdf_tabular_spark.kg.annotate.repo_triples` need, and the
    snapshot key :func:`~rdf_tabular_spark.kg.delta.source_diff`
    compares, without the content."""
    return extracted.filter(F.col("kind") == FILE_ROW_KIND).select(
        *_CARRY, F.col("detail").alias("content_sha256"))
