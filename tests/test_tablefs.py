"""The one table filesystem (writers/tablefs.py): scheme routing and the
atomic create every commit and lock relies on."""

from __future__ import annotations

import threading

import pytest

from graph_db_spark.writers.tablefs import _HadoopTableFS, table_fs


def test_file_uri_create_exclusive_has_one_winner(spark, tmp_path):
    """Two threads released together create the same ``file://`` path:
    exactly one may win, or a manifest commit is lost and a lock is held
    twice. Hadoop's local ``create(overwrite=false)`` lets both win in a
    large share of trials; ``O_CREAT|O_EXCL`` never does."""
    for i in range(40):
        p = f"file://{tmp_path}/race{i}/_manifests/v1.json"
        fs = table_fs(spark, p)
        barrier = threading.Barrier(2, timeout=30)
        wins, errors = [], []

        def create(token: str) -> None:
            barrier.wait()
            try:
                fs.create_exclusive(p, token)
                wins.append(token)
            except FileExistsError:
                pass
            except Exception as e:  # pragma: no cover - surfaced by assert below
                errors.append(e)

        threads = [threading.Thread(target=create, args=(t,)) for t in ("a", "b")]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
            assert not t.is_alive()
        assert not errors, errors
        assert len(wins) == 1, (p, wins)
        assert fs.read_text(p) == wins[0]


@pytest.mark.parametrize("hadoop", [False, True], ids=["posix", "hadoop"])
def test_primitives_agree_across_filesystems(spark, tmp_path, hadoop):
    """Both filesystems give the writers the same contract: exclusive
    create, rename, recursive remove, touch and a clock comparable with
    mtimes, and FileNotFoundError for a missing file."""
    root = f"file://{tmp_path}/t"
    fs = _HadoopTableFS(spark, root) if hadoop else table_fs(spark, root)
    p = fs.join(root, "a", "x.json")
    fs.create_exclusive(p, "1")
    with pytest.raises(FileExistsError):
        fs.create_exclusive(p, "2")
    fs.touch(p)
    assert abs(fs.now() - fs.getmtime(p)) < 60
    moved = fs.join(root, "b")
    fs.rename(fs.join(root, "a"), moved)
    assert fs.listdir(moved) == ["x.json"]
    assert fs.read_text(fs.join(moved, "x.json")) == "1"
    fs.remove_tree(moved)
    assert not fs.exists(moved)
    for call in (fs.read_text, fs.getmtime, fs.remove, fs.touch):
        with pytest.raises(FileNotFoundError):
            call(fs.join(moved, "x.json"))
