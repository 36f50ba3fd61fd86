"""Single-job many-table ingestion (sources/folder_ingest.py) — the
reference's GitTables regime (maco/demo/index_gittables.py:9-33): a folder
of many small heterogeneous CSV files indexed as ONE Spark job, no
per-table driver loop."""

from __future__ import annotations

import csv
import os

import pytest
from pyspark.sql import functions as F

from datalake_indexes_spark.functions.text import tokenize_py
from datalake_indexes_spark.sources.folder_ingest import (
    HEADER_ROW_ID,
    build_index_from_folder,
    csv_cells_raw,
    typed_glob_cells,
)


def _write_csv(path: str, header: list[str], rows: list[list]) -> None:
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(header)
        w.writerows(rows)


@pytest.fixture(scope="module")
def lake_folder(tmp_path_factory):
    """~120 small heterogeneous CSVs + quirk files, with the expected cell
    set computed independently in pure Python."""
    folder = tmp_path_factory.mktemp("many_tables")
    expected: dict[str, list[tuple[int, int, str | None]]] = {}

    for i in range(110):
        name = f"tab_{i:03d}.csv"
        n_cols = 2 + (i % 3)
        header = [f"c{j}_{i}" for j in range(n_cols)]
        rows = [
            [f"v{i}_{r}_{j}" if (r + j) % 7 else "" for j in range(n_cols)]
            for r in range(3 + (i % 5))
        ]
        _write_csv(str(folder / name), header, rows)
        exp = [(HEADER_ROW_ID, j, header[j]) for j in range(n_cols)]
        for r, row in enumerate(rows):
            exp += [(r, j, row[j] if row[j] != "" else None) for j in range(n_cols)]
        expected[name] = exp

    # quoting: commas and quotes inside quoted fields
    _write_csv(str(folder / "quoted.csv"), ["k", "txt"], [["1", 'a, "b", c'], ["2", "plain"]])
    expected["quoted.csv"] = [
        (HEADER_ROW_ID, 0, "k"), (HEADER_ROW_ID, 1, "txt"),
        (0, 0, "1"), (0, 1, 'a, "b", c'),
        (1, 0, "2"), (1, 1, "plain"),
    ]
    # semicolon dialect (per-file sniff)
    (folder / "semi.csv").write_text("a;b\n1;x\n2;y\n")
    expected["semi.csv"] = [
        (HEADER_ROW_ID, 0, "a"), (HEADER_ROW_ID, 1, "b"),
        (0, 0, "1"), (0, 1, "x"), (1, 0, "2"), (1, 1, "y"),
    ]
    # tab dialect via .tsv
    (folder / "tabs.tsv").write_text("x\ty\n10\t20\n")
    expected["tabs.tsv"] = [
        (HEADER_ROW_ID, 0, "x"), (HEADER_ROW_ID, 1, "y"),
        (0, 0, "10"), (0, 1, "20"),
    ]
    # ragged rows: short row padded, long row truncated
    (folder / "ragged.csv").write_text("a,b,c\n1,2\n3,4,5,6\n")
    expected["ragged.csv"] = [
        (HEADER_ROW_ID, 0, "a"), (HEADER_ROW_ID, 1, "b"), (HEADER_ROW_ID, 2, "c"),
        (0, 0, "1"), (0, 1, "2"), (0, 2, None),
        (1, 0, "3"), (1, 1, "4"), (1, 2, "5"),
    ]
    # CRLF line endings
    (folder / "crlf.csv").write_text("p,q\r\n7,8\r\n")
    expected["crlf.csv"] = [
        (HEADER_ROW_ID, 0, "p"), (HEADER_ROW_ID, 1, "q"),
        (0, 0, "7"), (0, 1, "8"),
    ]
    # blank interior line is skipped, not a row of nulls
    (folder / "blankline.csv").write_text("m,n\n1,2\n\n3,4\n")
    expected["blankline.csv"] = [
        (HEADER_ROW_ID, 0, "m"), (HEADER_ROW_ID, 1, "n"),
        (0, 0, "1"), (0, 1, "2"), (1, 0, "3"), (1, 1, "4"),
    ]
    # empty-table skip (P5): zero bytes, and header-only
    (folder / "empty.csv").write_text("")
    (folder / "header_only.csv").write_text("h1,h2\n")

    return folder, expected


def test_csv_cells_raw_parity(spark, lake_folder):
    """The one-job parse agrees file-for-file, cell-for-cell with an
    independent Python csv parse (quoting, dialects, padding, CRLF)."""
    folder, expected = lake_folder
    parsed = csv_cells_raw(
        spark, [str(folder / "*.csv"), str(folder / "*.tsv")]
    ).withColumn("fname", F.element_at(F.split("path", "/"), -1))
    got: dict[str, list] = {}
    for r in parsed.collect():
        got.setdefault(r["fname"], []).append((r["row_id"], r["col_id"], r["value"]))
    exp_nonempty = {k: sorted(v) for k, v in expected.items()}
    assert {k: sorted(v) for k, v in got.items() if k != "header_only.csv"} == exp_nonempty
    # header-only file still yields its header cells at this layer
    assert sorted(got["header_only.csv"]) == [(HEADER_ROW_ID, 0, "h1"), (HEADER_ROW_ID, 1, "h2")]


def test_build_index_from_folder_many_small_tables(spark, lake_folder):
    folder, expected = lake_folder
    idx = build_index_from_folder(spark, str(folder), with_super_keys=True)

    # table ids: dense 0..n-1, ordered by path, empty tables skipped (P5)
    info = {r["dataset_name"]: r for r in idx.table_info.collect()}
    assert "empty" not in info and "header_only" not in info
    names_sorted = sorted(expected)  # path order == name order in one folder
    assert [info[os.path.splitext(n)[0]]["table_id"] for n in names_sorted] == list(
        range(len(expected))
    )

    # table_info extents for a spot table
    t42 = info["tab_042"]
    assert t42["max_row_id"] == 3 + (42 % 5) - 1
    assert t42["max_col_id"] == 2 + (42 % 3) - 1

    # cells: tokenized values match the Python tokenizer twin on one table
    tid = t42["table_id"]
    cells = {
        (r["row_id"], r["col_id"]): r["tokenized"]
        for r in idx.cells.filter(F.col("table_id") == tid).collect()
    }
    exp42 = {
        (rid, cid): tokenize_py(v)
        for rid, cid, v in expected["tab_042.csv"]
        if rid >= 0
    }
    assert cells == exp42

    # headers present with tokenized twin
    hdr = {
        (r["table_id"], r["col_id"]): (r["header"], r["header_tokenized"])
        for r in idx.column_headers.collect()
    }
    assert hdr[(tid, 0)] == ("c0_42", tokenize_py("c0_42"))

    # super keys: one per (table, row), never null
    rk = idx.row_keys
    assert rk.filter(F.col("super_key_hi").isNull()).count() == 0
    n_rows = idx.cells.select("table_id", "row_id").distinct().count()
    assert rk.count() == n_rows


def test_parquet_glob_group(spark, tmp_path):
    """One glob read for a parquet schema group: per-file row_number ids,
    schema-derived headers, same long shape as the CSV path."""
    import pandas as pd

    folder = tmp_path / "pq"
    folder.mkdir()
    exp = {}
    for i in range(12):
        pdf = pd.DataFrame(
            {"k": range(i + 2), "name": [f"n{i}_{j}" for j in range(i + 2)]}
        )
        fname = f"part_{i:02d}.parquet"
        pdf.to_parquet(str(folder / fname))
        exp[fname] = {(r, 0): str(r) for r in range(i + 2)} | {
            (r, 1): f"n{i}_{r}" for r in range(i + 2)
        }

    parsed = typed_glob_cells(
        spark, str(folder / "*.parquet"), "parquet", cols=["k", "name"], order_by=["k"]
    ).withColumn("fname", F.element_at(F.split("path", "/"), -1))
    got: dict[str, dict] = {}
    hdrs: dict[str, dict] = {}
    for r in parsed.collect():
        if r["row_id"] == HEADER_ROW_ID:
            hdrs.setdefault(r["fname"], {})[r["col_id"]] = r["value"]
        else:
            got.setdefault(r["fname"], {})[(r["row_id"], r["col_id"])] = r["value"]
    assert got == exp
    assert all(h == {0: "k", 1: "name"} for h in hdrs.values())


def test_mixed_csv_parquet_folder(spark, tmp_path):
    """CSV stream + a parquet schema group assemble into one index with
    dense ids across both sources."""
    import pandas as pd

    (tmp_path / "alpha.csv").write_text("id,word\n0,apple\n1,banana\n")
    pd.DataFrame({"id": [0, 1, 2], "word": ["x", "y", "z"]}).to_parquet(
        str(tmp_path / "beta.parquet")
    )
    idx = build_index_from_folder(
        spark,
        str(tmp_path),
        parquet_groups={"*.parquet": {"cols": ["id", "word"], "order_by": ["id"]}},
    )
    info = {r["dataset_name"]: r["table_id"] for r in idx.table_info.collect()}
    assert set(info) == {"alpha", "beta"}
    assert sorted(info.values()) == [0, 1]
    beta_cells = idx.cells.filter(F.col("table_id") == info["beta"])
    assert beta_cells.count() == 6


def test_mixed_csv_arff_folder(spark, tmp_path):
    """ARFF files are dispatched in the single-job folder walk (reference
    routes .arff in its folder loop, data_handler.py:374-389): a mixed
    csv+arff lake recovers both tables' cells, headers from @attribute
    declarations, ``?`` as NULL."""
    (tmp_path / "alpha.csv").write_text("id,word\n0,apple\n1,banana\n")
    (tmp_path / "iris_mini.arff").write_text(
        "% a comment line\n"
        "@RELATION iris\n"
        "@ATTRIBUTE 'sepal length' NUMERIC\n"
        '@ATTRIBUTE "species" {setosa,versicolor}\n'
        "\n"
        "@DATA\n"
        "5.1,setosa\n"
        "?,versicolor\n"
        "4.9,'multi word'\n"
    )
    idx = build_index_from_folder(spark, str(tmp_path))
    info = {r["dataset_name"]: r["table_id"] for r in idx.table_info.collect()}
    assert set(info) == {"alpha", "iris_mini"}
    headers = {
        (r["table_id"], r["col_id"]): r["header"]
        for r in idx.column_headers.collect()
    }
    assert headers[(info["iris_mini"], 0)] == "sepal length"
    assert headers[(info["iris_mini"], 1)] == "species"
    cells = {
        (r["row_id"], r["col_id"]): r["tokenized"]
        for r in idx.cells.filter(F.col("table_id") == info["iris_mini"]).collect()
    }
    assert cells[(0, 0)] == tokenize_py("5.1")
    assert cells[(1, 0)] == tokenize_py(None)  # '?' → NULL
    assert cells[(2, 1)] == tokenize_py("multi word")
    assert len(cells) == 6


def test_json_glob_group(spark, tmp_path):
    """JSON schema group through the same single-job typed path."""
    import json as _json

    from datalake_indexes_spark.sources.folder_ingest import typed_glob_cells

    for i in range(6):
        with open(tmp_path / f"j{i}.json", "w") as fh:
            for r in range(3):
                fh.write(_json.dumps({"k": r, "name": f"doc{i}_{r}"}) + "\n")
    parsed = typed_glob_cells(
        spark,
        str(tmp_path / "*.json"),
        fmt="json",
        cols=["k", "name"],
        order_by=["k"],
        schema="k long, name string",
    ).withColumn("fname", F.element_at(F.split("path", "/"), -1))
    rows = parsed.filter(F.col("row_id") >= 0).collect()
    assert len(rows) == 6 * 3 * 2
    got = {(r["fname"], r["row_id"], r["col_id"]): r["value"] for r in rows}
    assert got[("j2.json", 1, 1)] == "doc2_1"
    assert got[("j5.json", 0, 0)] == "0"


def test_folder_ingested_index_serves_mate(spark, tmp_path):
    """End-to-end: a folder-ingested lake is a first-class LakeIndex — MATE
    joinability search over it finds the planted joinable table."""
    from datalake_indexes_spark.operators.mate import MATE

    # planted joinable table: shares the key vocabulary with the probe input
    with open(tmp_path / "movies.csv", "w") as fh:
        fh.write("title,revenue\n")
        for i in range(30):
            fh.write(f"Movie {i},{i * 1000}\n")
    # noise tables
    for j in range(20):
        with open(tmp_path / f"noise_{j:02d}.csv", "w") as fh:
            fh.write("x,y\n")
            for r in range(5):
                fh.write(f"n{j}_{r},z{r}\n")

    idx = build_index_from_folder(spark, str(tmp_path), with_super_keys=True)
    idx = idx.cache()
    info = {r["dataset_name"]: r["table_id"] for r in idx.table_info.collect()}

    probe = spark.createDataFrame(
        [(f"Movie {i}", float(i)) for i in range(0, 30, 2)], "title string, score double"
    )
    res = MATE(idx).join_search(probe, ["title"], k=5, input_order_by=["title"])
    top = res.top_k.collect()
    assert top, "no joinable tables found"
    assert top[0]["table_id"] == info["movies"]
    assert top[0]["score"] == 15 - 1  # 15 overlapping keys, reference's count-1


def test_staging_dir_materialization(spark, tmp_path):
    """staging_dir writes the parsed stream to parquet instead of caching
    it — same index, disk-backed (the 100 TB materialization shape)."""
    for i in range(5):
        (tmp_path / f"s{i}.csv").write_text(f"a,b\nv{i},w{i}\nx{i},y{i}\n")
    staged = tmp_path / "_staging"
    idx = build_index_from_folder(
        spark, str(tmp_path), staging_dir=str(staged)
    )
    assert idx.cells.count() == 5 * 2 * 2
    assert idx.table_info.count() == 5
    assert staged.exists()  # the long form landed on disk


def test_recursive_nested_lake(spark, tmp_path):
    """GitTables-style nesting: per-repo subdirectories, one index job."""
    for repo in ("repo_a", "repo_b/sub"):
        d = tmp_path / repo
        d.mkdir(parents=True)
        for i in range(3):
            (d / f"t{i}.csv").write_text(f"k,v\n{repo}_{i},1\nzz_{i},2\n")
    idx = build_index_from_folder(spark, str(tmp_path), recursive=True)
    assert idx.table_info.count() == 6
    assert idx.cells.count() == 6 * 2 * 2
    # nested path content round-trips
    toks = {r["tokenized"] for r in idx.cells.collect()}
    assert "repo b sub 2" in toks  # tokenized "repo_b/sub_2"


def test_csv_roundtrip_property(spark, tmp_path):
    """Property: any table written by a standard csv writer — values with
    commas, quotes, unicode (dropped to ASCII only at tokenize time, not
    parse time), empty and whitespace cells — round-trips through the
    single-job parse cell-for-cell."""
    from hypothesis import given, settings, strategies as st

    cell = st.one_of(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\r\n"),
            max_size=12,
        ),
        st.just(""),
    )

    counter = [0]

    @settings(max_examples=15, deadline=None)
    @given(
        st.integers(min_value=1, max_value=4),
        st.lists(st.lists(cell, min_size=4, max_size=4), min_size=1, max_size=5),
    )
    def check(n_cols, rows):
        counter[0] += 1
        folder = tmp_path / f"prop_{counter[0]}"
        folder.mkdir()
        header = [f"h{j}" for j in range(n_cols)]
        data = [r[:n_cols] for r in rows]
        _write_csv(str(folder / "t.csv"), header, data)
        parsed = csv_cells_raw(spark, [str(folder / "*.csv")]).collect()
        got = {(r["row_id"], r["col_id"]): r["value"] for r in parsed if r["row_id"] >= 0}
        # every writerow round-trips: csv.writer quotes a lone empty field
        # ('""'), so no data row ever serializes to a blank line
        expected = {}
        for ri, row in enumerate(data):
            for ci in range(n_cols):
                expected[(ri, ci)] = row[ci] if row[ci] != "" else None
        assert got == expected

    check()


def test_flush_path_multi_yield_parity(spark, lake_folder):
    """Force the parser's memory-bound flush (tiny threshold → many
    yielded frames per partition): the multi-yield output must equal the
    single-frame output exactly."""
    folder, _ = lake_folder
    pats = [str(folder / "*.csv"), str(folder / "*.tsv")]
    one = {
        (r["path"], r["row_id"], r["col_id"], r["value"])
        for r in csv_cells_raw(spark, pats).collect()
    }
    many = {
        (r["path"], r["row_id"], r["col_id"], r["value"])
        for r in csv_cells_raw(spark, pats, flush_cells=7).collect()
    }
    assert many == one and len(one) > 1000


def test_uncache_releases_staging_frames(spark, tmp_path):
    (tmp_path / "u.csv").write_text("a,b\n1,2\n3,4\n")
    idx = build_index_from_folder(spark, str(tmp_path))
    assert idx.cells.count() == 4
    frames = idx._staging_frames
    assert any(f.storageLevel.useMemory for f in frames)
    idx.uncache()
    assert all(not f.storageLevel.useMemory for f in frames)


def test_ingest_job_count_independent_of_file_count(spark, tmp_path):
    """Plan property behind the many-table regime (S6 at GitTables scale):
    the whole-folder ingest launches a BOUNDED number of Spark jobs set by
    the pipeline's structure (staging writes, id ranking, super keys), not
    by the file count — no per-file driver loop anywhere.  The round-6
    scale exercise measured the same bound at 60,000 tables (59 s wall,
    1.35M cells; PLANS.md round 6)."""
    sc = spark.sparkContext
    counts = {}
    for n in (20, 200):
        folder = tmp_path / f"lake{n}"
        folder.mkdir()
        for i in range(n):
            (folder / f"t{i:04d}.csv").write_text("a,b\n1,x\n2,y\n")
        sc.setJobGroup(f"ingest-probe-{n}", "", interruptOnCancel=False)
        idx = build_index_from_folder(spark, str(folder))
        idx.cells.count()
        idx.table_info.count()
        counts[n] = len(sc.statusTracker().getJobIdsForGroup(f"ingest-probe-{n}"))
        sc.setJobGroup("", "")
    # 10x the files, job count flat up to AQE's ±couple runtime re-plans
    # (a per-file loop would add >=180 jobs here) — plus a hard ceiling
    assert counts[200] <= counts[20] + 2, counts
    assert counts[200] < 40, counts
