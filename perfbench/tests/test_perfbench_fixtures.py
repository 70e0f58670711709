import pandas as pd
import pyarrow.parquet as pq

import fixtures
import oracle


def lww(frames: list[pd.DataFrame]) -> pd.DataFrame:
    """Last-writer-wins in pandas: highest lsn per key, drop deletes."""
    rows = pd.concat(frames, ignore_index=True).sort_values(["image_id", "lsn"])
    last = rows.groupby("image_id").tail(1)
    return last[last["op"] != "D"]


def test_batches_match_live_keys_and_report_expectations(tmp_path):
    n_base = 300
    base = fixtures.stage_base(3, n_base, 8, str(tmp_path / "base"), (20, 40))
    assert len(base) == 8 and pq.read_table(base).num_rows == n_base
    stream = fixtures.ChangeStream(3, n_base, str(tmp_path / "cdc"))
    state = pq.read_table(base).to_pandas().assign(op="I", lsn=-1)
    for _ in range(4):
        before = set(state[state["op"] != "D"]["image_id"]) if len(state) else set()
        batch = stream.next_batch(60)
        rows = pq.read_table(batch.path).to_pandas()
        assert len(rows) == batch.events
        assert not rows.duplicated(["image_id", "lsn"]).any()
        keys = set(rows["image_id"])
        assert len(keys & before) == batch.expect_matched > 0
        winners = lww([rows])
        assert len(winners) == batch.expect_inserted
        state = lww([state, rows])
        assert set(state["image_id"]) == {fixtures.image_id(3, k) for k in stream.live}


def test_same_seed_same_bytes(tmp_path):
    a = fixtures.ChangeStream(9, 100, str(tmp_path / "a")).next_batch(40)
    b = fixtures.ChangeStream(9, 100, str(tmp_path / "b")).next_batch(40)
    assert pq.read_table(a.path).equals(pq.read_table(b.path))
    c = fixtures.ChangeStream(10, 100, str(tmp_path / "c")).next_batch(40)
    assert not pq.read_table(a.path).equals(pq.read_table(c.path))


def test_expected_keys_is_last_writer_wins_with_exact_hashes(tmp_path):
    base = fixtures.stage_base(5, 200, 6, str(tmp_path / "base"), (10, 30))
    stream = fixtures.ChangeStream(5, 200, str(tmp_path / "cdc"))
    batches = [stream.next_batch(50).path for _ in range(3)]
    got = oracle.expected_keys(base, batches).sort_values("image_id").reset_index(drop=True)
    frames = [pq.read_table(base).to_pandas().assign(op="I", lsn=-1)]
    # delete rows carry null hashes; keep the others as exact 64-bit ints
    frames += [pq.read_table(p).to_pandas(types_mapper={fixtures.pa.int64(): pd.Int64Dtype()}.get) for p in batches]
    want = lww(frames).sort_values("image_id").reset_index(drop=True)
    assert list(got["image_id"]) == list(want["image_id"])
    assert got["phash"].dtype == "int64"
    assert list(got["phash"]) == [int(x) for x in want["phash"]]
