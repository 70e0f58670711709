import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from moonlink_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("moonlink_spark_tests", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s
    s.stop()


@pytest.fixture()
def tmp_table_root(tmp_path):
    return str(tmp_path / "tbl")


def dv_positions(dfiles) -> list[tuple[str, int]]:
    """Every (file_path, pos) row of the bitmap deletion-vector files
    *dfiles*, expanded here with pyarrow and numpy as the tests' own
    reference: bit b of word w of a row is position w * 64 + b."""
    import numpy as np
    import pyarrow.parquet as pq

    out = []
    for d in dfiles:
        tbl = pq.read_table(d.file_path, columns=["file_path", "words"])
        for fp, words in zip(tbl.column("file_path").to_pylist(), tbl.column("words").to_pylist()):
            bits = np.unpackbits(np.array(words, dtype="<i8").view(np.uint8), bitorder="little")
            out += [(fp, int(p)) for p in np.flatnonzero(bits)]
    return out
