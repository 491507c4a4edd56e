"""End-to-end reproduction of the reference pipeline (SURVEY §3, §5.3).

Generates LMO-shaped raw fixtures (banner rows, "x" NA sentinel,
empty row/col), ingests them, builds all 10 catalog artifacts as lazy
workbooks, and checks structural + algebraic invariants against the
reference semantics (01_source_me.R).
"""

from __future__ import annotations

import math
import zipfile

import pytest
from pyspark.sql import functions as F

from lmo_data_catalog_spark import cache
from lmo_data_catalog_spark.plans import fixtures
from lmo_data_catalog_spark.plans.lmo_pipeline import (
    ARTIFACTS,
    LMOConfig,
    build_all,
    employment_by_industry_bc_and_regions,
    employment_by_occupation,
    high_opportunity_occupations,
    jo_by_skill_cluster,
    jo_by_type_and_occ,
    load_inputs,
    regional_jo_by_occ,
)
from lmo_data_catalog_spark.sinks import write_catalog

CFG = LMOConfig(fyod=2024)


@pytest.fixture(scope="module")
def raw_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("lmo_raw")
    fixtures.generate(str(d), fyod=CFG.fyod, seed=7)
    return str(d)


@pytest.fixture(scope="module")
def inputs(spark, raw_dir):
    return load_inputs(spark, raw_dir)


@pytest.fixture(scope="module")
def artifacts(inputs):
    return build_all(inputs, CFG)


def test_ingest_handles_banner_sentinel_and_empties(inputs):
    # banner skipped → real header; empty col dropped; empty row dropped
    emp = inputs.employment
    assert emp.columns[:5] == [
        "NOC", "Description", "Industry", "Variable", "Geographic Area"
    ]
    assert "" not in [c.strip() for c in emp.columns]  # empty col gone
    n_expected = len(fixtures.NOCS) * len(fixtures.INDUSTRIES) * len(fixtures.AREAS)
    assert emp.count() == n_expected  # all-empty row gone
    # "x" NA sentinel → NULL in occ_char income
    income = "2021 Census Median Employment Income (Employed)"
    assert inputs.occ_char.filter(F.col(income).isNull()).count() > 0


def test_all_ten_artifacts_build_and_materialize(artifacts):
    assert len(artifacts) == len(ARTIFACTS) == 10
    for name, wb in artifacts.items():
        for sheet, df in wb.items():
            assert df.columns, f"{name}/{sheet} has no columns"
        first = next(iter(wb.values()))
        assert first.limit(1).count() > 0, f"{name}: first sheet empty"


def test_tbbl1_bc_only_and_cagr_algebra(artifacts):
    wb = artifacts["Employment by Industry and Occupation for BC"]
    df = wb["data"]
    rows = df.collect()
    assert rows, "tbbl1 empty"
    areas = {r["Geographic Area"] for r in rows}
    assert areas == {"British Columbia"}
    # (1+c10)^10 == (1+c5a)^5 * (1+c5b)^5 (SM:56-58 algebra)
    for r in rows[:50]:
        c5a, c5b, c10 = r["1st 5-Year Cagr"], r["2nd 5-Year Cagr"], r["10-Year Cagr"]
        if None in (c5a, c5b, c10):
            continue
        lhs = (1 + c10) ** 10
        rhs = (1 + c5a) ** 5 * (1 + c5b) ** 5
        assert math.isclose(lhs, rhs, rel_tol=1e-9)
        # CAGR anchored on raw year columns
        v0, v5, v10 = r["2024"], r["2029"], r["2034"]
        assert math.isclose((v5 / v0) ** 0.2 - 1, c5a, rel_tol=1e-9)
        assert math.isclose((v10 / v0) ** 0.1 - 1, c10, rel_tol=1e-9)


def test_tbbl2_fanout_drops_pseudo_regions(artifacts):
    wb = artifacts["Employment by Industry for BC and Regions"]
    sheets = set(wb) - {"data"}
    assert sheets == {"British Columbia", *fixtures.REGIONS}
    for pseudo in fixtures.PSEUDO_REGIONS:
        assert pseudo not in wb
    # region sheets drop NOC/Description/Variable (SM:142)
    cariboo = wb["Cariboo"]
    assert "NOC" not in cariboo.columns and "Variable" not in cariboo.columns
    # data sheet: NOC pinned to #T (SM:124)
    assert {r["NOC"] for r in wb["data"].select("NOC").distinct().collect()} == {"#T"}


def test_tbbl3_sums_match_year_columns(artifacts):
    wb = artifacts["Job Openings by Industry and Occupation for BC"]
    rows = wb["data"].collect()
    assert rows
    for r in rows[:50]:
        first5 = sum(r[str(y)] for y in range(2025, 2030))
        second5 = sum(r[str(y)] for y in range(2030, 2035))
        assert math.isclose(r["1st 5-Year Sum"], first5, rel_tol=1e-9)
        assert math.isclose(r["2nd 5-Year Sum"], second5, rel_tol=1e-9)
        assert math.isclose(r["10-Year Sum"], first5 + second5, rel_tol=1e-9)


def test_hoo_workbook_structure_and_left_join(artifacts, inputs):
    wb = artifacts["High Opportunity Occupations BC and Regions"]
    sheet_names = list(wb)
    assert sheet_names[0] == "Data Dictionary"
    assert set(sheet_names[1:]) == {"HOO BC", *(f"HOO {r}" for r in fixtures.REGIONS)}
    bc = wb["HOO BC"].collect()
    # left join preserves every HOO row (SURVEY §5.4)
    flag = f"Occ Group: HOO BC {CFG.fyod}E"
    n_hoo = inputs.occ_char.filter(~F.col(flag).rlike("Non")).count()
    assert len(bc) == n_hoo
    for r in bc:
        assert r["TEER"] == r["NOC"][2]  # 3rd char of #NNNNN (SM:76)
        assert r[CFG.jo_label] is not None  # every NOC has openings in fixture


def test_tbbl9_long_export_shape(artifacts, inputs):
    df = artifacts["JO by Type, Ind and Occ for BC and Regions (long)"]["data"]
    n_wide = inputs.job_openings.filter(
        ~F.col("Geographic Area").isin(list(fixtures.PSEUDO_REGIONS))
    ).count()
    assert df.count() == n_wide * 11
    assert df.schema["year"].dataType.simpleString() == "string"  # SM:306 keeps chr


def test_tbbl10_flagship_join(inputs):
    df = jo_by_skill_cluster(inputs, CFG)
    rows = df.collect()
    # clusters fixture covers NOCS[1:-2] → inner join returns exactly those
    assert len(rows) == len(fixtures.NOCS) - 3
    assert df.columns == [
        "NOC", "Description", "Occ Group: Skills Cluster", CFG.jo_label
    ]
    assert all(r["NOC"].startswith("#") for r in rows)


def test_read_csv_skip_multifile_glob(spark, tmp_path):
    """S1 banner-skip applies PER FILE when the path is a glob — a
    2-file vendor drop must lose both banners, not just the first."""
    from lmo_data_catalog_spark.sources.ingest import read_csv_skip

    for i, rows in enumerate([["a,1", "b,2"], ["c,3"]]):
        (tmp_path / f"part{i}.csv").write_text(
            "banner line\nsecond banner\n\nk,v\n" + "\n".join(rows) + "\n"
        )
    df = read_csv_skip(spark, str(tmp_path / "part*.csv"), skip_rows=3)
    got = sorted((r["k"], r["v"]) for r in df.collect())
    assert df.columns == ["k", "v"]
    assert got == [("a", 1), ("b", 2), ("c", 3)]


def test_read_csv_skip_failfast_catches_malformed(spark, tmp_path):
    """Landing-zone parse modes: FAILFAST raises on a malformed line
    (truncated vendor file caught at ingest); PERMISSIVE nulls the
    missing cells and keeps the row."""
    f = tmp_path / "trunc.csv"
    # numeric col so a short row is a real type/arity violation
    f.write_text("banner\nk,v\na,1\nb\nc,3\n")
    from lmo_data_catalog_spark.sources.ingest import read_csv_skip

    schema = "k string, v int"
    permissive = read_csv_skip(
        spark, str(f), skip_rows=1, schema=schema
    ).collect()
    assert sorted((r.k, r.v) for r in permissive) == [
        ("a", 1), ("b", None), ("c", 3)
    ]
    with pytest.raises(Exception, match="[Mm]alformed"):
        read_csv_skip(
            spark, str(f), skip_rows=1, schema=schema, mode="FAILFAST"
        ).collect()


def _write_minimal_xlsx(path, rows):
    """Build a genuine .xlsx (zip + SpreadsheetML parts) with stdlib
    only: shared strings for str cells, raw <v> for numbers, and one
    deliberately sparse row exercise (empty cells are simply absent
    from the XML, as Excel writes them)."""
    import zipfile
    from xml.sax.saxutils import escape

    shared, sidx = [], {}

    def cell(ref, v):
        if v is None:
            return ""
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        if v not in sidx:
            sidx[v] = len(shared)
            shared.append(v)
        return f'<c r="{ref}" t="s"><v>{sidx[v]}</v></c>'

    def colname(i):
        name = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            name = chr(65 + r) + name
        return name

    sheet_rows = "".join(
        f'<row r="{ri + 1}">'
        + "".join(cell(f"{colname(ci)}{ri + 1}", v) for ci, v in enumerate(row))
        + "</row>"
        for ri, row in enumerate(rows)
    )
    sst = "".join(f"<si><t>{escape(s)}</t></si>" for s in shared)
    ssml = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    parts = {
        "[Content_Types].xml": (
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="xml" ContentType="application/xml"/></Types>'
        ),
        "_rels/.rels": (
            '<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>'
        ),
        "xl/workbook.xml": (
            f'<?xml version="1.0"?><workbook xmlns="{ssml}" '
            'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
        ),
        "xl/_rels/workbook.xml.rels": (
            '<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>'
        ),
        "xl/sharedStrings.xml": (
            f'<?xml version="1.0"?><sst xmlns="{ssml}">{sst}</sst>'
        ),
        "xl/worksheets/sheet1.xml": (
            f'<?xml version="1.0"?><worksheet xmlns="{ssml}">'
            f"<sheetData>{sheet_rows}</sheetData></worksheet>"
        ),
    }
    with zipfile.ZipFile(path, "w") as z:
        for name, content in parts.items():
            z.writestr(name, content)


def test_read_excel_ingest_real_xlsx(spark, tmp_path):
    """S2's binary path, end-to-end: a genuine in-test .xlsx (zip +
    SpreadsheetML) read with skip=3 / na='x' must produce the same
    rows, NULLs, and inferred schema as the CSV fallback on the same
    logical table (the reference's read_excel(skip=3, na='x'),
    01_source_me.R:93-97)."""
    from lmo_data_catalog_spark.sources.ingest import (
        read_csv_skip,
        read_excel_ingest,
    )

    rows = [
        ["LMO vendor drop", None, None],        # banner 1
        ["fiscal year 2024", None, None],       # banner 2
        [None, None, None],                     # banner 3 (blank)
        ["NOC", "Openings", "Rate"],            # header
        ["#11100", 120, 1.5],
        ["#21301", "x", 2.25],                  # NA sentinel in int col
        ["#31102", 85, None],                   # sparse: trailing empty cell
    ]
    xlsx = tmp_path / "vendor.xlsx"
    _write_minimal_xlsx(xlsx, rows)
    df = read_excel_ingest(spark, str(xlsx), skip_rows=3, na_values=("x",))

    csv = tmp_path / "vendor.csv"
    csv.write_text(
        "LMO vendor drop,,\nfiscal year 2024,,\n,,\n"
        "NOC,Openings,Rate\n#11100,120,1.5\n#21301,x,2.25\n#31102,85,\n"
    )
    ref = read_excel_ingest(spark, str(csv), skip_rows=3, na_values=("x",))

    assert df.columns == ref.columns == ["NOC", "Openings", "Rate"]
    assert [f.dataType for f in df.schema.fields] == [
        f.dataType for f in ref.schema.fields
    ]
    got = sorted(map(tuple, df.collect()))
    want = sorted(map(tuple, ref.collect()))
    assert got == want
    assert got[1] == ("#21301", None, 2.25)  # sentinel became NULL


def test_hoo_unresolvable_sheet_region_raises(inputs):
    # a sheet token the aliases don't cover must fail loudly, not
    # left-join to nothing and emit an all-NULL openings column
    bad_cfg = LMOConfig(fyod=CFG.fyod, region_aliases={})
    with pytest.raises(ValueError, match="Geographic Area"):
        high_opportunity_occupations(inputs, bad_cfg)


def test_fan_out_frames_are_one_persisted_partition(inputs):
    # a cached plan keeps every shuffle partition (AQE never coalesces
    # it), so without the pin each region sheet is a job of
    # spark.sql.shuffle.partitions tasks over ~100 rows
    for builder in (
        employment_by_industry_bc_and_regions,
        employment_by_occupation,
        jo_by_type_and_occ,
    ):
        wb = builder(inputs, CFG)
        regions = set(wb) - {"data"}
        assert regions, builder.__name__
        for region in regions:
            assert wb[region].rdd.getNumPartitions() == 1, (builder.__name__, region)
    openings = regional_jo_by_occ(inputs, CFG)
    assert openings.storageLevel.useMemory
    assert openings.rdd.getNumPartitions() == 1


def _persisted_rdds(spark) -> set[int]:
    """Ids of the RDDs the context holds as persisted or stored."""
    sc = spark.sparkContext._jsc
    return set(sc.getPersistentRDDs().keys()) | {
        info.id() for info in sc.sc().getRDDStorageInfo()
    }


def test_load_inputs_lands_each_frame_once(spark, raw_dir):
    cache.release_all()
    untracked = _persisted_rdds(spark)  # persisted by other modules' code
    inp = load_inputs(spark, raw_dir)
    for name in ("employment", "job_openings", "occ_char", "clusters"):
        plan = getattr(inp, name)._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, name
    # remove_empty's non-null count is the job that filled the cache
    assert _persisted_rdds(spark) - untracked
    cache.release_all()
    assert _persisted_rdds(spark) <= untracked


def _worksheet_parts(out_dir) -> dict[str, bytes]:
    parts = {}
    for book in sorted(out_dir.glob("*.xlsx")):
        with zipfile.ZipFile(book) as z:
            for n in z.namelist():
                if n.startswith("xl/worksheets/"):
                    parts[f"{book.name}/{n}"] = z.read(n)
    return parts


def test_released_passes_write_identical_worksheets(spark, raw_dir, tmp_path):
    """Two ingest → build → write passes with release_all() between
    them: the second must recompute from its own inputs, not reuse a
    stale cache entry, and write the same parts."""
    meta = {name: m for name, (_, m) in ARTIFACTS.items()}
    cache.release_all()
    untracked = _persisted_rdds(spark)
    parts = []
    for i in range(2):
        out = tmp_path / f"pass{i}"
        write_catalog(
            build_all(load_inputs(spark, raw_dir), CFG), str(out), metadata=meta
        )
        cache.release_all()
        assert _persisted_rdds(spark) <= untracked
        parts.append(_worksheet_parts(out))
    assert len(parts[0]) >= len(ARTIFACTS) - 1  # 9 workbooks, >= 1 sheet each
    assert parts[0] == parts[1]


def test_cache_release_all_unpersists(spark):
    df = cache.track(spark.range(10))
    assert df.storageLevel.useMemory
    assert cache.release_all() >= 1
    assert not df.storageLevel.useMemory
    assert cache.release_all() == 0  # idempotent, registry cleared
