"""Ingestion-edge readers (SURVEY §2.1 S1-S5).

The reference reads raw vendor files with banner rows and NA
sentinels: ``vroom(..., skip=3)`` (01_source_me.R:87,90),
``read_excel(..., skip=3, na="x")`` (:93-97), glob resolution
(:94-96), ``janitor::remove_empty()`` (:88,91).

Scale notes: banner-skipping CSVs and Excel are *landing-zone*
formats. The engine's contract is: ingest once → typed Parquet →
everything downstream reads Parquet through :class:`..catalog.Catalog`
(pushdown, pruning, splittable files). These readers are the one-time
landing step, sized for raw vendor drops, not the 100 TB hot path.

The readers return lazy frames: every action on one re-runs the
banner skip and the parse. The LMO pipeline keeps its "ingest once"
contract in :func:`..plans.lmo_pipeline.load_inputs`, which persists
each landed frame (``cache.track``) so that its ~20 sheet jobs share
one read; ``cache.release_all()`` frees them.
"""

from __future__ import annotations

import glob as _glob
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def resolve_input(directory: str, pattern: str) -> str:
    """S3 — locate an input file by glob pattern (01_source_me.R:94-96).

    Exactly-one match is enforced: silent multi-match is how stale
    vendor drops sneak into an annual pipeline.
    """
    hits = sorted(_glob.glob(os.path.join(directory, pattern)))
    if len(hits) != 1:
        raise FileNotFoundError(
            f"expected exactly one match for {pattern!r} in {directory!r}, "
            f"got {len(hits)}: {hits}"
        )
    return hits[0]


def read_csv_skip(
    spark: SparkSession,
    path: str,
    *,
    skip_rows: int = 0,
    header: bool = True,
    schema: StructType | str | None = None,
    na_values: Sequence[str] = (),
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """S1 — CSV scan with leading banner rows skipped (01_source_me.R:87).

    Spark's CSV source has no skip-N option, so banner rows are dropped
    per-file via ``zipWithIndex`` on the text lines (deterministic:
    ``textFile`` preserves in-file line order under the index). Globs
    are resolved driver-side so the skip applies to *each* file, then
    the per-file line RDDs are unioned and CSV-parsed once.

    ``mode`` is the Spark CSV parse mode and matters at the landing
    zone: ``PERMISSIVE`` (default) nulls out malformed cells,
    ``DROPMALFORMED`` silently drops bad lines, ``FAILFAST`` raises on
    the first malformed line — annual vendor drops usually want
    FAILFAST so a truncated file is caught at ingest, not as NULLs
    three joins later.
    """
    files = sorted(_glob.glob(path)) or [path]
    sc = spark.sparkContext
    rdds = []
    for f in files:
        lines = sc.textFile(f)
        if skip_rows > 0:
            lines = (
                lines.zipWithIndex()
                .filter(lambda kv: kv[1] >= skip_rows)  # noqa: B023
                .keys()
            )
        rdds.append(lines)
    union = rdds[0] if len(rdds) == 1 else sc.union(rdds)
    reader = spark.read.option("header", header).option("mode", mode)
    if na_values:
        # Spark CSV supports a single nullValue token; the reference
        # needs exactly one ("x", 01_source_me.R:97). Reject silently
        # ignoring extras.
        if len(list(na_values)) > 1:
            raise ValueError(
                "read_csv_skip supports exactly one NA sentinel "
                f"(got {list(na_values)!r}); pre-normalize the file or "
                "post-process with replace()"
            )
        reader = reader.option("nullValue", list(na_values)[0])
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(union)


_SSML = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_RELNS = "{http://schemas.openxmlformats.org/package/2006/relationships}"
_ODREL = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"


def _col_index(cell_ref: str) -> int | None:
    """``"BC12"`` → 54 (0-based column); None if the ref has no letters."""
    idx = 0
    for ch in cell_ref:
        if ch.isalpha():
            idx = idx * 26 + (ord(ch.upper()) - 64)
        else:
            break
    return idx - 1 if idx else None


def read_xlsx_rows(path: str, *, sheet: int = 0) -> list[list[str | None]]:
    """Minimal stdlib .xlsx reader: cell texts of one sheet, row-major.

    xlsx is a zip of XML parts; this parses exactly the subset the
    landing-zone contract needs — sheet resolution via workbook.xml +
    its rels (sheet ORDER, not part filename, which zip tools may
    permute), shared strings (``t="s"``), inline strings
    (``t="inlineStr"``), and raw ``<v>`` texts for numbers. Sparse
    rows keep positional fidelity: a cell's ``r="D7"`` ref places it
    at column 3 with None-padding, matching what a CSV export of the
    sheet would show as empty fields. No styles, no dates-as-serials
    decoding, no formula evaluation (the cached ``<v>`` is taken) —
    vendor landing files are value-only workbooks.
    """
    import zipfile
    from xml.etree import ElementTree as ET

    with zipfile.ZipFile(path) as z:
        names = set(z.namelist())
        shared: list[str] = []
        if "xl/sharedStrings.xml" in names:
            for si in ET.fromstring(z.read("xl/sharedStrings.xml")).iter(
                f"{_SSML}si"
            ):
                shared.append(
                    "".join(t.text or "" for t in si.iter(f"{_SSML}t"))
                )
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        targets = {
            r.get("Id"): r.get("Target")
            for r in rels.iter(f"{_RELNS}Relationship")
        }
        sheets = list(wb.iter(f"{_SSML}sheet"))
        if not 0 <= sheet < len(sheets):
            raise IndexError(f"workbook has {len(sheets)} sheets, not {sheet + 1}")
        target = targets[sheets[sheet].get(f"{_ODREL}id")]
        part = target if target.startswith("xl/") else "xl/" + target.lstrip("/")
        rows: list[list[str | None]] = []
        for row in ET.fromstring(z.read(part)).iter(f"{_SSML}row"):
            vals: list[str | None] = []
            for c in row.findall(f"{_SSML}c"):
                ci = _col_index(c.get("r", ""))
                if ci is None:
                    ci = len(vals)
                while len(vals) < ci:
                    vals.append(None)
                if c.get("t") == "inlineStr":
                    v: str | None = "".join(
                        t.text or "" for t in c.iter(f"{_SSML}t")
                    )
                else:
                    ve = c.find(f"{_SSML}v")
                    v = None if ve is None else ve.text
                    if c.get("t") == "s" and v is not None:
                        v = shared[int(v)]
                vals.append(v)
            rows.append(vals)
        return rows


def _infer_column(values: list[str | None]):
    """CSV-inferSchema-alike type unification for one column of cell
    texts: int → long → double → string, same ladder Spark's CSV
    inference climbs."""
    kind = "int"
    for v in values:
        if v is None:
            continue
        try:
            if not -(2**31) <= int(v) < 2**31:
                kind = "long" if kind == "int" else kind
        except ValueError:
            try:
                float(v)
            except ValueError:
                return "string", [v for v in values]
            kind = "double"
    if kind in ("int", "long"):
        return kind, [None if v is None else int(v) for v in values]
    return "double", [None if v is None else float(v) for v in values]


def read_excel_ingest(
    spark: SparkSession,
    path: str,
    *,
    skip_rows: int = 0,
    na_values: Sequence[str] = ("x",),
) -> DataFrame:
    """S2 — Excel landing read (01_source_me.R:93-97).

    Spark has no core Excel source; ingestion goes driver-side through
    the stdlib :func:`read_xlsx_rows` (bounded: vendor workbooks are
    catalog-sized) then ``createDataFrame``. Semantics mirror the
    reference's ``read_excel(skip=3, na="x")``: drop ``skip_rows``
    leading banner rows, first surviving row is the header, cells
    equal to an NA sentinel become NULL, and column types are unified
    int → float → string exactly like the CSV fallback's inferSchema.
    A ``.csv`` path routes to :func:`read_csv_skip` (identical
    skip + NA semantics) so both landing formats share one contract.
    """
    if path.endswith(".csv"):
        return read_csv_skip(
            spark, path, skip_rows=skip_rows, na_values=na_values
        )
    raw = read_xlsx_rows(path)[skip_rows:]
    if not raw:
        raise ValueError(f"{path!r}: no rows after skipping {skip_rows}")
    header = [str(h) if h is not None else f"_c{i}" for i, h in enumerate(raw[0])]
    width = len(header)
    na = set(na_values)
    body = [
        [None if v in na else v for v in (r + [None] * width)[:width]]
        for r in raw[1:]
    ]
    cols = [_infer_column([r[i] for r in body]) for i in range(width)]
    schema = ", ".join(
        f"`{name}` {cols[i][0]}" for i, name in enumerate(header)
    )
    data = [tuple(cols[i][1][j] for i in range(width)) for j in range(len(body))]
    return spark.createDataFrame(data, schema=schema)


def remove_empty(
    df: DataFrame, *, rows: bool = True, cols: bool = True
) -> DataFrame:
    """S5 — drop all-NULL rows and all-NULL columns (01_source_me.R:88).

    Rows: ``na.drop(how="all")`` (distributed, no shuffle). Columns:
    one aggregate pass counting non-nulls per column — a single job
    whose result is a 1-row driver fetch, then a plain ``select`` of
    the survivors (column pruning reaches the scan).
    """
    out = df.na.drop(how="all") if rows else df
    if cols:
        counts = out.agg(
            *[F.count(F.col(c)).alias(c) for c in out.columns]
        ).first()
        keep = [c for c in out.columns if counts[c] > 0]
        if len(keep) < len(out.columns):
            out = out.select(*keep)
    return out
