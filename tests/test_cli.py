"""Ops CLI (python -m hive_dwrf_spark): dump/stats/lookup/compact wrap the
format core with no SparkSession — exercised in-process via main()."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pytest

from hive_dwrf_spark.__main__ import main
from hive_dwrf_spark.format import write_arrow_table


@pytest.fixture(scope="module")
def table_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("cli_table")
    for part in range(2):
        t = pa.table(
            {
                "k": pa.array(
                    range(part * 100, part * 100 + 100), type=pa.int64()
                ),
                "v": pa.array([f"s{i}" for i in range(100)]),
            }
        )
        write_arrow_table(str(d / f"part-{part}.dwrf"), t)
    return str(d)


def test_dump(table_dir, capsys):
    f = os.path.join(table_dir, "part-0.dwrf")
    assert main(["dump", f]) == 0
    out = capsys.readouterr().out
    assert "Rows: 100" in out and "Compression" in out


def test_stats(table_dir, capsys):
    assert main(["stats", table_dir]) == 0
    got = json.loads(capsys.readouterr().out)
    assert got["rows"] == 200 and got["files"] == 2


def test_lookup(table_dir, capsys):
    assert main(["lookup", table_dir, "k", "5,150"]) == 0
    cap = capsys.readouterr()
    rows = [json.loads(line) for line in cap.out.splitlines()]
    assert sorted(r["k"] for r in rows) == [5, 150]
    # keys span both files: neither may be pruned
    assert "files 0/2 pruned" in cap.err
    # a repeat call in the same process reuses the open handles
    assert main(["lookup", table_dir, "k", "5,150"]) == 0
    assert "0 files opened" in capsys.readouterr().err


def test_lookup_prints_cache_bytes(table_dir, capsys):
    assert main(["lookup", table_dir, "k", "5,150"]) == 0
    (line,) = [
        ln for ln in capsys.readouterr().err.splitlines()
        if ln.startswith("# cache bytes: ")
    ]
    layers = dict(
        part.rsplit(" ", 1)
        for part in line[len("# cache bytes: "):].replace(";", ",").split(", ")
    )
    assert set(layers) == {"strides", "blocks", "streams", "dictionaries", "total"}
    assert int(layers["strides"]) > 0
    assert int(layers["total"]) == sum(
        int(v) for k, v in layers.items() if k != "total"
    )


def test_lookup_prunes_files(table_dir, capsys):
    # keys from one part's key range only: the other file prunes on
    # footer stats
    assert main(["lookup", table_dir, "k", "5,7"]) == 0
    assert "files 1/2 pruned" in capsys.readouterr().err


def test_compact(table_dir, tmp_path, capsys):
    from hive_dwrf_spark.format.reader import DwrfFile

    out = str(tmp_path / "merged.dwrf")
    assert main(["compact", table_dir, out]) == 0
    with DwrfFile(out) as f:
        assert f.num_rows == 200


def test_usage_paths(capsys):
    assert main([]) == 2
    assert main(["--help"]) == 0
    assert main(["nope"]) == 2
    assert main(["stats"]) == 2
    assert main(["lookup", "a", "b"]) == 2


def test_stats_columns(table_dir, capsys):
    assert main(["stats", "--columns", table_dir]) == 0
    got = json.loads(capsys.readouterr().out)
    assert got["columns"]["k"]["count"] == 200
    assert got["columns"]["k"]["min"] == 0
    assert got["columns"]["k"]["max"] == 199
    assert got["columns"]["v"]["kind"] == "STRING"


def test_stats_columns_empty_sum_matches_tvf(tmp_path, capsys):
    # all-null int column: sum must be null (count==0), matching the
    # dwrf_stats TVF rule — the two catalog surfaces must not drift
    f = str(tmp_path / "nulls.dwrf")
    write_arrow_table(
        f, pa.table({"n": pa.array([None, None, None], type=pa.int64())})
    )
    assert main(["stats", "--columns", f]) == 0
    got = json.loads(capsys.readouterr().out)
    assert got["columns"]["n"]["count"] == 0
    assert got["columns"]["n"]["sum"] is None


def test_compact_manifest(tmp_path, capsys):
    """compact-manifest rewrites a sink's _batches log to resolved state
    and reports the line delta; missing log is a usage error."""
    import pyarrow as pa

    from hive_dwrf_spark.format import write_arrow_table
    from hive_dwrf_spark.sources.dwrf_datasource import committed_files

    out = str(tmp_path / "sink")
    import os

    os.makedirs(out)
    write_arrow_table(f"{out}/a.dwrf", pa.table({"k": pa.array([1])}))
    with open(f"{out}/_batches", "w") as f:
        f.write("#begin\t0\n0\ta.dwrf\t1\n#end\t0\n")
        f.write("#begin\t1\n1\tgone.dwrf\t1\n#end\t1\n")  # deleted file
        f.write("#begin\t2\n2\ttorn.dwrf\t1\n")  # torn tail
    # the log was written milliseconds ago: the live-writer quiesce
    # guard refuses the unforced call (exit 2, explanatory message)
    assert main(["compact-manifest", out]) == 2
    assert "live writer" in capsys.readouterr().err
    assert main(["compact-manifest", out, "--force"]) == 0
    assert "compacted _batches" in capsys.readouterr().out
    assert committed_files(out) == {"a.dwrf"}
    assert "gone.dwrf" not in open(f"{out}/_batches").read()
    assert main(["compact-manifest", str(tmp_path / "nope")]) == 2
    assert main(["compact-manifest"]) == 2


def test_compact_sink_cli(tmp_path, capsys):
    """compact-sink merges a sink's committed files and reports JSON;
    a non-sink dir (no _batches) is a usage error."""
    import json as _json
    import os

    import pyarrow as pa

    from hive_dwrf_spark.format import write_arrow_table

    out = str(tmp_path / "sink")
    os.makedirs(out)
    with open(f"{out}/_batches", "w") as log:
        log.write("#begin\t0\n")
        for j in range(3):
            write_arrow_table(
                f"{out}/f{j}.dwrf", pa.table({"k": pa.array([j])})
            )
            log.write(f"0\tf{j}.dwrf\t1\n")
        log.write("#end\t0\n")
    # fresh log -> quiesce guard refuses unforced; --force proceeds
    assert main(["compact-sink", out, "--target-mb", "64"]) == 2
    assert "live writer" in capsys.readouterr().err
    assert main(["compact-sink", out, "--target-mb", "64", "--force"]) == 0
    rep = _json.loads(capsys.readouterr().out)
    assert rep["merged_files"] == 1 and rep["files_after"] == 1
    assert main(["compact-sink", str(tmp_path)]) == 2  # no manifest
    assert main(["compact-sink"]) == 2
