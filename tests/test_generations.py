"""The generation-commit protocol (dmshadoop_spark/generations.py) on the
filesystem alone: no Spark session."""

import os

import pytest

from dmshadoop_spark import generations
from dmshadoop_spark.generations import ConcurrentWriteError


def _writer(name: str, meta: dict | None = None):
    """A stage callback that writes one file ``name`` (and a manifest)."""

    def stage(staging: str) -> None:
        with open(os.path.join(staging, name), "w") as f:
            f.write(name)
        if meta is not None:
            generations.write_manifest(staging, meta)

    return stage


def _staging_dirs(root: str) -> list[str]:
    return [e for e in os.listdir(root) if e.startswith(".staging-")]


def test_raising_stage_keeps_current_and_is_swept_next_commit(tmp_path):
    root = str(tmp_path / "t")
    assert generations.commit(root, _writer("a")) == 0

    def boom(staging: str) -> None:
        _writer("torn")(staging)
        raise RuntimeError("crash mid-stage")

    with pytest.raises(RuntimeError, match="crash mid-stage"):
        generations.commit(root, boom)
    assert generations.committed(root) == [0]
    assert sorted(os.listdir(generations.gen_path(root, 0))) == [
        "_SUCCESS",
        "a",
    ]
    assert len(_staging_dirs(root)) == 1  # the crash left debris
    assert generations.commit(root, _writer("b")) == 1
    assert _staging_dirs(root) == []  # swept by the next commit
    assert sorted(os.listdir(generations.gen_path(root, 1))) == [
        "_SUCCESS",
        "b",
    ]


def test_stage_returning_false_publishes_nothing(tmp_path):
    root = str(tmp_path / "t")
    generations.commit(root, _writer("a"))

    def nothing(staging: str) -> bool:
        _writer("x")(staging)
        return False

    assert generations.commit(root, nothing) is None
    assert generations.committed(root) == [0]
    assert sorted(os.listdir(root)) == ["gen=0"]


def test_lost_claim_raises_and_keeps_staged_files(tmp_path):
    root = str(tmp_path / "t")
    generations.commit(root, _writer("a"))

    def racing(staging: str) -> None:
        _writer("loser")(staging)
        # another writer publishes the generation this commit claimed
        winner = generations.gen_path(root, 1)
        os.makedirs(winner)
        _writer("winner")(winner)
        open(os.path.join(winner, "_SUCCESS"), "w").close()

    with pytest.raises(ConcurrentWriteError):
        generations.commit(root, racing)
    assert sorted(os.listdir(generations.gen_path(root, 1))) == [
        "_SUCCESS",
        "winner",
    ]
    (staged,) = _staging_dirs(root)
    assert os.path.exists(os.path.join(root, staged, "loser"))


def test_vacuum_keeps_generations_the_kept_one_carries(tmp_path):
    root = str(tmp_path / "t")
    generations.commit(root, _writer("a"))  # 0
    generations.commit(root, _writer("b"))  # 1
    generations.commit(root, _writer("c", {"carries": [1]}))  # 2 reads 1
    assert generations.snapshot(root) == [1, 2]
    assert generations.vacuum(root, keep_last=1) == [0]
    assert generations.committed(root) == [1, 2]
    with pytest.raises(ValueError):
        generations.vacuum(root, keep_last=0)


def test_vacuum_stopped_partway_leaves_no_torn_generation(tmp_path, monkeypatch):
    """A vacuum whose removal stops after deleting some of a dropped
    generation's data files must not leave that generation committed
    with files missing: it leaves debris, which the next commit sweeps."""
    root = str(tmp_path / "t")
    generations.commit(root, _writer("a"))  # 0
    generations.commit(root, _writer("b"))  # 1

    def torn(path, *args, **kwargs):
        data = sorted(e for e in os.listdir(path) if e != "_SUCCESS")
        os.remove(os.path.join(path, data[0]))
        raise OSError("removal stopped partway")

    with monkeypatch.context() as m:
        m.setattr(generations.shutil, "rmtree", torn)
        with pytest.raises(OSError, match="stopped partway"):
            generations.vacuum(root, keep_last=1)
    assert generations.committed(root) == [1]
    assert generations.commit(root, _writer("c")) == 2
    assert _staging_dirs(root) == []
    assert generations.committed(root) == [1, 2]


def test_unmarked_generation_is_invisible_and_swept(tmp_path):
    root = str(tmp_path / "t")
    generations.commit(root, _writer("a"))
    debris = generations.gen_path(root, 1)
    os.makedirs(debris)
    _writer("torn")(debris)
    assert generations.committed(root) == [0]
    assert generations.commit(root, _writer("b")) == 1
    assert sorted(os.listdir(debris)) == ["_SUCCESS", "b"]


def test_manifest_missing_is_none_corrupt_raises(tmp_path):
    root = str(tmp_path / "t")
    generations.commit(root, _writer("a"))
    assert generations.manifest(root, 0) is None
    assert generations.carries(root, 0) == []
    for junk in ("{not json", "[1, 2]"):
        with open(os.path.join(generations.gen_path(root, 0), "_meta.json"),
                  "w") as f:
            f.write(junk)
        with pytest.raises(ValueError, match="corrupt manifest"):
            generations.carries(root, 0)


def test_current_stops_at_the_newest_marked_generation(tmp_path, monkeypatch):
    """``current()`` lists the table once and checks markers from the
    newest number down: past an unmarked debris directory, the first
    marked one is the answer, and no older marker is read."""
    root = str(tmp_path / "t")
    for i in range(31):  # generations 0 to 30
        generations.commit(root, _writer(f"f{i}"))
    os.makedirs(generations.gen_path(root, 31))  # a dead writer's debris
    calls = []
    marked = generations._marked

    def counting(path: str) -> bool:
        calls.append(path)
        return marked(path)

    monkeypatch.setattr(generations, "_marked", counting)
    assert generations.current(root) == 30
    assert len(calls) <= 2


def test_commit_reads_no_marker_per_older_generation(tmp_path, monkeypatch):
    """A commit over 40 generations, with debris above the newest,
    checks two markers (the debris's and the newest generation's), not
    one per generation. An unmarked directory below the newest is left
    by the commit and removed by ``vacuum``, which returns only the
    generations it dropped."""
    root = str(tmp_path / "t")
    for i in range(40):  # generations 0 to 39
        generations.commit(root, _writer(f"f{i}"))
    os.makedirs(generations.gen_path(root, 40))  # a dead writer's debris
    os.remove(os.path.join(generations.gen_path(root, 5), "_SUCCESS"))
    calls = []
    marked = generations._marked

    def counting(path: str) -> bool:
        calls.append(path)
        return marked(path)

    with monkeypatch.context() as m:
        m.setattr(generations, "_marked", counting)
        assert generations.commit(root, _writer("new")) == 40
    assert len(calls) == 2
    assert sorted(os.listdir(generations.gen_path(root, 40))) == ["_SUCCESS", "new"]
    assert os.path.isdir(generations.gen_path(root, 5))
    assert 5 not in generations.committed(root)
    assert generations.vacuum(root, keep_last=50) == []
    assert not os.path.exists(generations.gen_path(root, 5))
    assert generations.committed(root) == [g for g in range(41) if g != 5]
