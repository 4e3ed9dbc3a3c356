"""Text parsers: one document's content string -> rows/columns of cells.

Reproduces the observable behavior of the reference's parsers:
  - FASTA (reference: octofludb/classes.py:324-349): '>' headers split
    on '|', sequence = concatenation of following lines with ALL
    whitespace removed (the reference's sepBy1 on [\\r\\n\\t ]+).
  - TSV (classes.py:270-290): first row is the header; cells stripped.
  - id lists (ui.py:600-619): one identifier per line.

Each call handles ONE document; the recipes (extract/recipes.py)
concatenate the parsed documents of a mapInPandas batch.
"""

from __future__ import annotations

import re

# the reference's p_seq token regex is [^>\n\r]* with separator
# [\r\n\t ]+ (classes.py:330-334): the GREEDY token consumes spaces and
# tabs INSIDE a line, so only line breaks — plus any [ \t\r\n] run
# directly after them — vanish from the joined sequence
_LINE_JOIN = re.compile(r"[\r\n][ \t\r\n]*")
# a header is '>' then [^\n\r]* — terminated by EITHER newline flavor
_EOL = re.compile(r"[\n\r]")


def parse_fasta(text: str, sep: str = "|") -> list[list[str]]:
    """-> list of rows: header fields + [sequence].

    Faithful to the reference grammar (classes.py:329-337): a header
    runs '>' to end-of-line ('\\n' OR a lone '\\r') and MAY contain
    '>', but the sequence token regex excludes '>', so ANY '>' after
    the header line starts a new record — not just line-initial ones;
    intra-line spaces stay in the sequence; the whitespace run after
    the header is parsec.spaces() (ALL \\s, e.g. also form-feed),
    hence the bare lstrip.  Text before the first '>' is dropped (the
    reference's parser dies there; our lenient policy matches the
    table parsers')."""
    rows: list[list[str]] = []
    pos = text.find(">")
    while pos != -1:
        m = _EOL.search(text, pos)
        if m is None:
            header, region, nxt = text[pos + 1:], "", -1
        else:
            header = text[pos + 1:m.start()]
            nxt = text.find(">", m.start())
            region = text[m.start():nxt if nxt != -1 else len(text)]
        rows.append(header.split(sep)
                    + [_LINE_JOIN.sub("", region.lstrip())])
        pos = nxt
    return rows


def parse_tsv(text: str, delimiter: str = "\t") -> dict[str, list[str | None]]:
    """-> {column_name: [cells...]}; header from the first line.

    Byte-faithful to the reference's raw-string table path
    (classes.py:270-290): every line is FULLY rstripped (trailing
    tabs/spaces vanish, so the header line alone fixes the table
    width), cells beyond the header width are dropped, duplicate
    header names keep the LAST column (dict build order).  One
    lenient deviation: rows SHORTER than the header fill with None
    where the reference raises IndexError (classes.py:288).
    Trailing empty lines: a one-column table keeps them as live ''
    cells (the reference does — they count against column goodness);
    a wider table drops them, because there the reference's
    raw-string path IndexErrors while its FILE path (readlines)
    never sees them — lenient reading follows the file path."""
    lines = [s.rstrip() for s in text.split("\n")]
    rows = [r.split(delimiter) for r in lines]
    header = [c.strip() for c in rows[0]]
    body = rows[1:]
    if len(header) > 1:
        while body and body[-1] == [""]:
            body.pop()
    out: dict[str, list[str | None]] = {}
    for i, name in enumerate(header):
        out[name] = [
            (r[i].strip() if i < len(r) else None) for r in body
        ]
    return out


def parse_idlist(text: str) -> list[str]:
    return [line.strip() for line in text.splitlines() if line.strip()]


def split_readlines(text: str) -> list[str]:
    """Emulate ``open(path, 'r').readlines()`` — the ONLY way the
    reference's line recipes (mk_blast / mk_influenza_na / mk_ird,
    which take TextIO, never raw strings) ever see data: universal
    newlines first ('\\r\\n' and lone '\\r' -> '\\n'), then split
    KEEPING the terminator on each line.  The recipes tab-split these
    lines, so the last field of a terminated line carries the '\\n'
    into the token grammar — observable in mk_ird, where the
    unstripped strain cell then fails to parse (recipes.py:86,118,140).
    ``io.StringIO(text, newline=None).readlines()`` behaves
    identically (the differential oracle vehicle)."""
    text = text.replace("\r\n", "\n").replace("\r", "\n")
    parts = text.split("\n")
    lines = [p + "\n" for p in parts[:-1]]
    if parts[-1]:
        lines.append(parts[-1])
    return lines
