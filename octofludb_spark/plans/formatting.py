"""Result formatters (reference: octofludb/formatting.py:10-46):
query results as TAB-separated tables or FASTA text.

Two paths: a driver-side string formatter for small results (the
reference's behavior — it prints to stdout), and a distributed text
writer for large results (concat_ws projection + text sink; stays
JVM-side)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def as_table_text(df: DataFrame, header: bool = True) -> str:
    """write_as_table (formatting.py:29-46): TSV with optional header.
    Driver-side; collect() — use write_table_text for big results."""
    cols = df.columns
    lines = []
    if header:
        lines.append("\t".join(cols))
    for row in df.collect():
        lines.append("\t".join("" if row[c] is None else str(row[c])
                               for c in cols))
    return "\n".join(lines)


def as_fasta_text(df: DataFrame) -> str:
    """write_as_fasta (formatting.py:10-26): every column but the last
    joins into a '|'-separated header; the last column is the
    sequence."""
    cols = df.columns
    head, seq = cols[:-1], cols[-1]
    out = []
    for row in df.collect():
        header = "|".join("" if row[c] is None else str(row[c]) for c in head)
        out.append(">" + header)
        out.append("" if row[seq] is None else str(row[seq]))
    return "\n".join(out)


def write_table_text(df: DataFrame, path: str) -> None:
    """Distributed TSV writer (no header): one text part per
    partition, formatting fully JVM-side."""
    line = F.concat_ws(
        "\t", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in df.columns]
    )
    df.select(line.alias("value")).write.mode("overwrite").text(path)
