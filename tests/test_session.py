"""Session defaults chosen from the environment."""

from __future__ import annotations

import pytest

from march_mania_spark_lakehouse_spark.session import _local_dir


@pytest.mark.parametrize(
    "env, has_tmpfs, expected",
    [
        ({}, True, "/dev/shm/spark_graft_local"),
        ({}, False, "/tmp"),
        # iteration state on disk must not land back in RAM
        ({"SPARK_GRAFT_ITER_STATE": "disk"}, True, "/tmp"),
        ({"SPARK_GRAFT_ITER_STATE": "local"}, True, "/dev/shm/spark_graft_local"),
        ({"SPARK_GRAFT_ITER_STATE": "reliable"}, True, "/dev/shm/spark_graft_local"),
        # an explicit dir always wins
        ({"SPARK_GRAFT_LOCAL_DIR": "/scratch/x"}, True, "/scratch/x"),
        (
            {"SPARK_GRAFT_LOCAL_DIR": "/scratch/x", "SPARK_GRAFT_ITER_STATE": "disk"},
            True,
            "/scratch/x",
        ),
    ],
)
def test_local_dir_follows_environment(env, has_tmpfs, expected):
    assert _local_dir(env, has_tmpfs) == expected
