import shutil

import pytest

from perfbench.run import DATA_DIR, verify_inputs


def test_shipped_inputs_match_their_checksums():
    sums = verify_inputs(DATA_DIR)
    assert "events.parquet" in sums and len(sums) == 10


def test_a_changed_input_is_refused(tmp_path):
    copy = tmp_path / "data"
    shutil.copytree(DATA_DIR, copy)
    with open(copy / "region.parquet", "ab") as fh:
        fh.write(b"\0")
    with pytest.raises(RuntimeError, match="region.parquet"):
        verify_inputs(str(copy))
