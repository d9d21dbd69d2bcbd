"""The session memo's one validity rule (``etl_master_spark/memo.py``),
checked with a counting builder over a real parquet table: only the
application id is faked, so no Spark session is needed."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq

from etl_master_spark import memo


def _session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_session_memo_validity_rule(tmp_path):
    path = tmp_path / "t.parquet"
    builds = []

    def build() -> int:
        builds.append(1)
        return len(builds)

    def get(app_id: str = "app-1", name: str = "t") -> int:
        return memo.session_memo(
            _session(app_id), name, build, (7,), [(str(tmp_path), "t")]
        )

    memo.clear()
    pq.write_table(pa.table({"x": [1, 2, 3]}), path)
    assert get() == 1
    assert get() == 1  # hit

    pq.write_table(pa.table({"x": [1, 2, 3, 4, 5]}), path)
    assert get() == 2  # rewrite: rows and bytes change

    size = path.stat().st_size
    pq.write_table(pa.table({"x": [9, 8, 7, 6, 5]}), path)
    st = path.stat()
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert path.stat().st_size == size
    assert get() == 3  # same size and file count, newer mtime

    assert get("app-2") == 4  # another application builds its own...
    assert {k[0] for k in memo._entries} == {"app-2"}  # ...and prunes app-1

    assert get("app-2", "other") == 5
    memo.clear("t")
    assert get("app-2", "other") == 5  # clear(name) spares other memos
    assert get("app-2") == 6  # ...and rebuilds the cleared one
    memo.clear()
