"""Engine-start policy of ``core.session.get_spark`` and the compile-work
reader in ``core.metrics``, and the class-data-sharing start policy of
``core.cds``."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

#: the tier-4 (C2) promotion thresholds, tenfold the JDK 17 defaults
TIER4_FLAGS = {
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=150000",
    "-XX:Tier4BackEdgeThreshold=400000",
}


def _jvm_args(spark) -> list[str]:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return list(mf.getRuntimeMXBean().getInputArguments())


def test_engine_jvm_runs_with_raised_tier4_thresholds(spark):
    """conftest builds its session with ``get_spark``, so the JVM's launch
    arguments are the policy the whole engine (and this suite) runs
    under: the four tier-4 thresholds, and C2 still available."""
    from barberini_analytics_spark.core.session import JIT_OPTIONS

    args = _jvm_args(spark)
    assert TIER4_FLAGS <= set(args), args
    assert set(JIT_OPTIONS.split()) == TIER4_FLAGS
    assert not any(a.startswith("-XX:TieredStopAtLevel") for a in args)


def test_compile_metrics_count_janino_and_jit_work(spark):
    """A never-seen expression forces a Janino compile: the count and the
    total move, and the JIT total never falls."""
    from barberini_analytics_spark.core.metrics import compile_metrics

    m0 = compile_metrics(spark)
    assert set(m0) == {"jit_s", "janino_compiles", "janino_s"}
    assert m0["jit_s"] > 0
    # literals are inlined in the generated source, so this class is new
    spark.range(1_000).selectExpr("sum(id * 7919 + 104723) AS s").collect()
    m1 = compile_metrics(spark)
    assert m1["janino_compiles"] > m0["janino_compiles"]
    assert m1["janino_s"] > m0["janino_s"]
    assert m1["jit_s"] >= m0["jit_s"]


def test_default_driver_memory_is_half_ram_capped_below_compressed_oops(
        monkeypatch):
    """From 32g up HotSpot drops compressed oops, so the cap is 31g."""
    from barberini_analytics_spark.core import session

    def fake_sysconf(ram_gib):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_gib * 2**18}
        return pages.__getitem__

    for ram_gib, want in ((16, "8192m"), (62, "31744m"), (64, "31744m"),
                          (512, "31744m")):
        monkeypatch.setattr(session.os, "sysconf", fake_sysconf(ram_gib))
        assert session._default_driver_memory() == want


def test_class_sharing_reader_reports_state_mapping_and_class_count(spark):
    from barberini_analytics_spark.core.metrics import class_sharing

    info = class_sharing(spark)
    assert set(info) == {"state", "mapped", "classes_loaded"}
    assert info["state"] in ("mapped", "recording", "building") \
        or info["state"].startswith("off:")
    assert isinstance(info["mapped"], bool)
    assert info["classes_loaded"] > 1_000


def test_archive_key_tracks_jar_size_mtime_and_oops_mode(tmp_path):
    from barberini_analytics_spark.core.cds import archive_key

    jar = tmp_path / "a.jar"
    jar.write_bytes(b"PK")
    entries = [str(tmp_path), str(jar)]
    base = archive_key("openjdk 17", entries, coops=True)
    assert archive_key("openjdk 17", entries, coops=True) == base
    assert archive_key("openjdk 17", entries, coops=False) != base
    assert archive_key("openjdk 21", entries, coops=True) != base
    st = os.stat(jar)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    touched = archive_key("openjdk 17", entries, coops=True)
    assert touched != base
    jar.write_bytes(b"PK!")
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert archive_key("openjdk 17", entries, coops=True) not in (base,
                                                                  touched)


def test_conf_dir_with_real_files_turns_class_sharing_off(tmp_path,
                                                          monkeypatch):
    from barberini_analytics_spark.core import cds

    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("# template\n")
    assert cds.conf_dir_configures_nothing(str(conf))
    assert cds.conf_dir_configures_nothing(str(tmp_path / "absent"))
    (conf / "spark-defaults.conf").write_text("spark.foo bar\n")
    assert not cds.conf_dir_configures_nothing(str(conf))
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    start = cds.prepare("1g")
    assert start.state == "off:conf-dir"
    assert start.conf_dir is None
    assert "SharedArchiveFile" not in start.java_options
    assert "DumpLoadedClassList" not in start.java_options
    # nothing was created for a start that cannot use CDS
    assert not (tmp_path / "cache").exists()


def test_unsafe_archive_is_never_mapped(tmp_path, monkeypatch):
    from barberini_analytics_spark.core import cds

    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    first = cds.prepare("1g")
    assert first.state == "recording"
    key = os.path.basename(first.recording).split(".")[0]
    archive = os.path.join(cds.cache_dir(), key + ".jsa")
    with open(archive, "wb") as fh:
        fh.write(b"\0" * 64)
    os.chmod(archive, 0o664)
    assert cds.prepare("1g").state == "off:archive-unsafe"
    os.chmod(archive, 0o444)
    assert cds.prepare("1g").state == "mapped"
    if os.geteuid() == 0:  # only root can hand a file to another user
        os.chown(archive, 4321, -1)
        assert cds.prepare("1g").state == "off:archive-unsafe"
    os.chmod(cds.cache_dir(), 0o770)
    assert cds.prepare("1g").state == "off:cache-dir-unsafe"


_START = """
import json, sys
from barberini_analytics_spark.core.metrics import class_sharing
from barberini_analytics_spark.core.session import get_spark
spark = get_spark("cds-start", 2)
spark.sparkContext.setLogLevel("ERROR")
assert spark.range(100).selectExpr("sum(id)").first()[0] == 4950
print(json.dumps(class_sharing(spark)))
"""


def _start(cache: str, heap: str = "1g") -> dict:
    """One engine start in a fresh interpreter; returns the reader's
    record after asserting stdout held nothing else."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("PYSPARK_GATEWAY")}
    env.update(XDG_CACHE_HOME=cache, SPARK_GRAFT_CPUS="2",
               SPARK_GRAFT_DRIVER_MEM=heap, PYTHONPATH=root)
    env.pop("SPARK_CONF_DIR", None)
    out = subprocess.run([sys.executable, "-c", _START], env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.splitlines()
    assert not [ln for ln in lines if "[cds" in ln or "[warning]" in ln], \
        lines
    assert len(lines) == 1, lines
    return json.loads(lines[0])


def _await_recorders(jvm_dir: str) -> None:
    """A recording is finished when its JVM has exited, which trails the
    interpreter's exit by a moment."""
    for name in os.listdir(jvm_dir):
        if name.endswith(".json"):
            with open(os.path.join(jvm_dir, name)) as fh:
                pid = json.load(fh)["pid"]
            deadline = time.monotonic() + 60
            while time.monotonic() < deadline:
                try:
                    os.kill(pid, 0)
                except ProcessLookupError:
                    break
                time.sleep(0.2)


def test_starts_record_then_build_then_map_and_refuse_bad_archives(
        tmp_path):
    """Start 1 records its class list, start 2 builds the archive and maps
    it, start 3 maps it; a truncated archive, and an archive built for
    the other oops mode, run without CDS and without a word on stdout."""
    from barberini_analytics_spark.core import cds

    cache = str(tmp_path)
    jvm_dir = os.path.join(cache, "barberini_analytics_spark", "jvm")

    first = _start(cache)
    assert (first["state"], first["mapped"]) == ("recording", False)
    _await_recorders(jvm_dir)
    (listing,) = [n for n in os.listdir(jvm_dir) if n.endswith(".classlist")]
    # the mechanism does not depend on how many classes the list names;
    # a short list keeps the dump to a few seconds (the full one takes ~30)
    path = os.path.join(jvm_dir, listing)
    with open(path) as fh:
        head = fh.readlines()[:1500]
    with open(path, "w") as fh:
        fh.writelines(head)
    # another key's archive and recording, and a dead builder's temp file
    stale = ["0" * 24 + ".jsa", "0" * 24 + ".1a2b.classlist",
             "0" * 24 + ".1a2b.json", listing[:24] + ".jsa.99999.tmp"]
    for name in stale:
        open(os.path.join(jvm_dir, name), "w").close()

    built = _start(cache)
    assert (built["state"], built["mapped"]) == ("building", True)
    (archive,) = [n for n in os.listdir(jvm_dir) if n.endswith(".jsa")]
    # publishing consumed the recording and dropped every stale file
    assert sorted(os.listdir(jvm_dir)) == sorted(
        [archive, "build.lock", "build.log", "empty-conf"])
    mapped = _start(cache)
    assert (mapped["state"], mapped["mapped"]) == ("mapped", True)

    # the oops-mode key of a 32g heap, holding the compressed-oops archive
    java = cds._java()
    version, coops = cds.jvm_identity(java, "32g")
    assert not coops
    from pyspark.find_spark_home import _find_spark_home
    entries = cds.launch_classpath(os.path.join(jvm_dir, "empty-conf"),
                                   _find_spark_home())
    wide = os.path.join(jvm_dir,
                        cds.archive_key(version, entries, coops) + ".jsa")
    shutil.copyfile(os.path.join(jvm_dir, archive), wide)
    other = _start(cache, heap="32g")
    assert (other["state"], other["mapped"]) == ("mapped", False)

    full = os.path.join(jvm_dir, archive)
    with open(full, "rb") as fh:
        half = fh.read(os.path.getsize(full) // 2)
    os.chmod(full, 0o644)
    with open(full, "wb") as fh:
        fh.write(half)
    os.chmod(full, 0o444)
    truncated = _start(cache)
    assert (truncated["state"], truncated["mapped"]) == ("mapped", False)

