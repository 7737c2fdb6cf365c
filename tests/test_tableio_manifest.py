"""The committed manifest depends only on the inputs: the same frames
committed under two roots, at two different times, give the same manifest
bytes once the part files' write UUIDs are masked. An append read of the
listed files gives its columns in the order a scan of one cycle dir
gives, so an unpartitioned write of it stores the same bytes."""

import re
import time

from frontier_engine import schemas
from frontier_engine.tableio import TableIO

_UUID = re.compile(rb"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


def test_manifest_bytes_depend_only_on_inputs(spark, tmp_path):
    seen = spark.createDataFrame(
        [(h, h % 3, 1) for h in range(40)], schemas.URL_SEEN
    )
    lineage = spark.createDataFrame(
        [(1, b, 10, 5, 2, 0, 1, 3, 4) for b in range(3)], schemas.LINEAGE
    )
    manifests = []
    for name in ("a", "b"):
        io = TableIO(str(tmp_path / name))
        io.commit(
            1,
            {
                "url_seen": (seen.repartition(3, "host_bucket"), ["host_bucket"]),
                "lineage": (lineage.coalesce(1), None),
            },
            meta={"note": 1},
            warm=("lineage",),
        )
        with open(io._manifest_path(1), "rb") as f:
            manifests.append(_UUID.sub(b"<uuid>", f.read()))
        time.sleep(1.1)  # the second root commits a clock second later
    assert manifests[0] == manifests[1]
    # the manifest lists every data file with its footer row count
    m = TableIO(str(tmp_path / "a")).manifest(1)
    assert sum(rows for _p, rows, _b in m["files"]["url_seen"]) == 40
    assert sum(rows for _p, rows, _b in m["files"]["lineage"]) == 3


def test_delta_read_keeps_cycle_dir_column_order(spark, tmp_path):
    import os

    io = TableIO(str(tmp_path))
    for c in (1, 2):
        io.commit(c, {
            "resolved": (spark.createDataFrame(
                [(c, c * 10 + i, i % 2, "done") for i in range(4)],
                schemas.RESOLVED,
            ), None),
            "url_seen": (spark.createDataFrame(
                [(c * 10 + i, i % 2, c) for i in range(4)], schemas.URL_SEEN,
            ), ["host_bucket"]),
        })
    for name, schema in (("resolved", schemas.RESOLVED),
                         ("url_seen", schemas.URL_SEEN)):
        one_dir = spark.read.schema(schema).parquet(
            os.path.join(io.root, name, "cycle=1")
        )
        got = io.read_appended(spark, name, 2, schema)
        assert got.columns == one_dir.columns, name
    # the deltas' own cycle column survives the table-root scan
    got = io.read_appended(spark, "resolved", 2, schemas.RESOLVED)
    assert sorted({r["cycle"] for r in got.collect()}) == [1, 2]
