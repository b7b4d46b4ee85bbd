"""pyworker.lazy_zip_caches: a zip importer re-reads its archive's
directory only when the file changed; every Spark worker that ran an
engine UDF carries the fix; and a session that runs no Python starts no
Python worker."""

import importlib
import inspect
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from mpds_spark import pyworker

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

eager_only = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport is lazy from Python 3.13 on"
)


@pytest.fixture
def reads(monkeypatch):
    """The eager method back in place, no stamps, and a list that records
    every archive whose directory is read."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker._reread)
    monkeypatch.setattr(pyworker, "_STAMPS", {})
    seen = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def _write_zip(path, files: dict) -> None:
    with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as z:
        for name, src in files.items():
            z.writestr(name, src)


@eager_only
def test_second_invalidate_does_not_reread(tmp_path, reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"lz_mod_a.py": "X = 1\n"})
    imp = zipimport.zipimporter(archive)  # reads the directory once
    reads.clear()
    pyworker.lazy_zip_caches()
    imp.invalidate_caches()
    assert reads == [archive]  # no stamp yet: one read
    imp.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == [archive]


@eager_only
def test_rewritten_archive_is_reread_and_imports(tmp_path, reads, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"lz_mod_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("lz_mod_a", "lz_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    pyworker.lazy_zip_caches()
    importlib.invalidate_caches()
    assert importlib.import_module("lz_mod_a").X == 1
    n = len(reads)

    # new size: a second module appears
    _write_zip(archive, {"lz_mod_a.py": "X = 1\n", "lz_mod_b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    importlib.invalidate_caches()  # the new stamp is kept: no second read
    assert reads[n:] == [archive]
    assert importlib.import_module("lz_mod_b").Y == 2

    # same size, new mtime only: still re-read, and the new source loads
    _write_zip(archive, {"lz_mod_a.py": "X = 3\n", "lz_mod_b.py": "Y = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads[n + 1 :] == [archive]
    del sys.modules["lz_mod_a"]
    assert importlib.import_module("lz_mod_a").X == 3


@eager_only
def test_install_twice_is_noop(tmp_path, reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"lz_mod_a.py": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    reads.clear()
    pyworker.lazy_zip_caches()
    method = zipimport.zipimporter.invalidate_caches
    pyworker.lazy_zip_caches()
    assert zipimport.zipimporter.invalidate_caches is method
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert reads == [archive]


def test_noop_from_python_313(reads, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    pyworker.lazy_zip_caches()
    assert zipimport.zipimporter.invalidate_caches is pyworker._reread


def _descendants(pid: int) -> list[tuple[int, int, str]]:
    """(pid, parent pid, command line) of every live descendant of `pid`,
    read from /proc."""
    procs = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except (OSError, ValueError, IndexError):
            continue  # the process exited while we read it
        procs.append((int(d), ppid, cmd))
    out, todo = [], [pid]
    while todo:
        parent = todo.pop()
        for p in procs:
            if p[1] == parent:
                out.append(p)
                todo.append(p[0])
    return out


def _run_session(body: str) -> dict:
    """Run `body` in a fresh Python process after `spark =
    get_spark(master="local[2]")`, with `_descendants` defined; return the
    JSON object it prints on its last line."""
    script = "\n".join(
        [
            "import json, os, sys",
            f"sys.path.insert(0, {ROOT!r})",
            inspect.getsource(_descendants),
            "from mpds_spark.session import get_spark",
            'spark = get_spark(master="local[2]")',
            textwrap.dedent(body),
            "spark.stop()",
        ]
    )
    path = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")])
    env = dict(os.environ, PYTHONPATH=path)
    res = subprocess.run(
        [sys.executable, "-c", script], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-4000:]
    return json.loads(res.stdout.strip().splitlines()[-1])


def test_engine_udf_workers_have_lazy_zip_caches():
    """After an action running an engine UDF that is a closure pickled by
    value (simhash64's generator), and then a token battery action, every
    Python worker that ran them reports the fix as installed when a later
    task reuses it. Each action is probed on its own, so neither UDF can
    lean on the other. The probe reads zipimport's method before it
    imports anything from mpds_spark, so it cannot install the fix."""
    rounds = _run_session(
        """
        import pyarrow as pa
        from mpds_spark.operators.battery import extract_token_battery
        from mpds_spark.operators.dedup import simhash64

        def workers():  # the pyspark daemon's children
            daemon = [p for p in _descendants(os.getpid()) if "pyspark.daemon" in p[2]]
            return {p[0] for p in daemon if p[1] in {q[0] for q in daemon}}

        def probe(batches):
            import os
            import sys
            import zipimport

            m = zipimport.zipimporter.invalidate_caches
            lazy = sys.version_info >= (3, 13) or (
                m.__module__, m.__name__
            ) == ("mpds_spark.pyworker", "_invalidate_caches")
            for _ in batches:
                yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "lazy": [lazy]})

        docs = spark.createDataFrame(
            [(i, [1, 2, i], f"w{i} w{i + 1} common tail") for i in range(40)],
            "doc_id long, tokens array<int>, text string",
        ).repartition(4)
        seen, ran, rounds = set(), set(), []
        for df in (simhash64(docs), extract_token_battery(docs)):
            df.write.format("noop").mode("overwrite").save()
            ran |= workers() - seen  # forked for this engine action
            rows = spark.range(16, numPartitions=16).mapInArrow(
                probe, "pid long, lazy boolean"
            ).collect()
            rounds.append({"ran": sorted(ran), "probe": [[r.pid, r.lazy] for r in rows]})
            seen = workers()  # a worker forked for the probe ran no engine UDF
        print(json.dumps(rounds))
        """
    )
    for r in rounds:
        assert r["ran"], "no Python worker ran the engine UDF"
        reused = {pid: lazy for pid, lazy in r["probe"] if pid in r["ran"]}
        assert reused, "no later task ran in a worker that ran an engine UDF"
        assert all(reused.values()), reused


def test_session_starts_no_python_worker():
    """get_spark plus one JVM-only action runs exactly that action's job,
    and no pyspark daemon or worker process is started."""
    got = _run_session(
        """
        spark.range(1000).write.format("noop").mode("overwrite").save()
        tree = _descendants(os.getpid())
        print(json.dumps({
            "jobs": spark.sparkContext.statusTracker().getJobIdsForGroup(),
            "java": [c for _, _, c in tree if "java" in c.split(" ")[0]],
            "python": [c for _, _, c in tree if "pyspark.daemon" in c or "pyspark.worker" in c],
        }))
        """
    )
    assert got["java"], "the JVM was not found among the driver's descendants"
    assert got["python"] == [], got["python"]
    assert len(got["jobs"]) == 1, got["jobs"]
