"""Class-data sharing (AppCDS) for the engine JVM that ``get_spark`` starts.

Every engine start is a new JVM (the reference pipeline is cron-driven),
and each one loads and verifies the same ~10k classes before its first
job.  A static CDS archive holds those classes pre-parsed and
pre-verified; the JVM maps it instead of loading them from the jars.

One archive per key, where the key hashes the ``java -version`` text, the
compressed-oops mode at the launch heap, and the launched classpath (each
entry's path, size and mtime).  Each start takes exactly one of these
paths, named by :attr:`Start.state`:

- ``mapped``: an archive for the key exists and is safe to map
  (``-XX:SharedArchiveFile``).
- ``building``: no archive, but a finished recording exists.  Under an
  exclusive lock, ``java -Xshare:dump`` builds the archive from the
  recorded class list and classpath (~30-40 s on 4 vCPUs for the ~13k
  classes of a fill_db run), publishes it by atomic rename, deletes every
  other key's files, and this start maps it.  A start that loses the
  lock runs without CDS (``off:build-locked``).
- ``recording``: nothing to map or build.  The JVM writes its loaded
  classes (``-XX:DumpLoadedClassList``), which costs nothing measurable;
  after launch the JVM's ``java.class.path`` and pid are saved next to
  the list.  A recording is finished once that JVM has exited.
- ``off:<reason>``: no CDS for this start (conf dir holds real files,
  unsafe cache directory, no java, a failed build, ...).

JDK 17 refuses to archive with a non-empty directory on the classpath,
and Spark's launcher puts ``$SPARK_CONF_DIR`` first.  When the effective
conf dir holds nothing but ``*.template`` files (so it configures
nothing), the launch points ``SPARK_CONF_DIR`` at an empty directory in
the cache directory instead; otherwise the start is ``off:conf-dir``.

Archives live in ``${XDG_CACHE_HOME:-~/.cache}/barberini_analytics_spark/jvm``
(mode 0700), outside any run's temp or work directory so separate runs
share them.  A directory or archive that is not the user's, or is group-
or world-writable, is never mapped.  The JVM validates an archive itself
and silently runs without it when it is truncated or built for another
classpath or heap mode; its CDS logging is switched off on stdout, where
bench.py and perfbench print the one result line a harness parses.
Delete the directory to reset.
"""

from __future__ import annotations

import contextlib
import fcntl
import hashlib
import json
import os
import shutil
import stat
import subprocess
import uuid
from dataclasses import dataclass

#: added to every launch: the JVM's CDS messages never reach stdout
LOG_OPTIONS = "-Xlog:cds*=off"
_CONF = "empty-conf"
_LOCK = "build.lock"
_BUILD_LOG = "build.log"
_DUMP_TIMEOUT_S = 600


@dataclass
class Start:
    """One engine start's CDS decision and what its launch must carry."""
    state: str
    java_options: str = LOG_OPTIONS
    conf_dir: str | None = None
    # set on ``recording`` starts: the keyed classpath and the list path
    entries: tuple[str, ...] = ()
    recording: str | None = None


#: the decision of the JVM this process launched (None: launched elsewhere)
LAST: Start | None = None


def cache_dir() -> str:
    base = (os.environ.get("XDG_CACHE_HOME")
            or os.path.join(os.path.expanduser("~"), ".cache"))
    return os.path.join(base, "barberini_analytics_spark", "jvm")


def _java() -> str | None:
    """The binary Spark's ``spark-class`` runs."""
    if os.environ.get("JAVA_HOME"):
        return os.path.join(os.environ["JAVA_HOME"], "bin", "java")
    return shutil.which("java")


def jvm_identity(java: str, heap: str) -> tuple[str, bool]:
    """``java -version`` text and whether ``-Xmx<heap>`` keeps compressed
    oops, from one short JVM run.  ``JAVA_TOOL_OPTIONS`` echo lines are
    dropped: they carry per-run paths."""
    out = subprocess.run(
        [java, f"-Xmx{heap}", "-XX:+PrintFlagsFinal", "-version"],
        capture_output=True, text=True, stdin=subprocess.DEVNULL,
        check=True, timeout=60)
    version = "\n".join(ln for ln in out.stderr.splitlines()
                        if not ln.startswith("Picked up "))
    coops = any(ln.split()[1:4] == ["UseCompressedOops", "=", "true"]
                for ln in out.stdout.splitlines())
    return version, coops


def launch_classpath(conf_dir: str, spark_home: str) -> list[str]:
    """The classpath Spark's launcher builds for a plain local start: the
    conf dir, then every jar of ``$SPARK_HOME/jars``.  Order-free: the
    JVM expands the jars wildcard in directory order, and the recording
    start checks the launched set against this one."""
    jars = os.path.join(spark_home, "jars")
    return [conf_dir] + sorted(os.path.join(jars, n) for n in os.listdir(jars)
                               if n.endswith((".jar", ".JAR")))


def archive_key(version: str, entries: list[str], coops: bool) -> str:
    h = hashlib.sha256(version.encode())
    h.update(b"coops" if coops else b"wide-oops")
    for path in entries:
        st = os.stat(path)
        h.update(f"\0{path}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:24]


def conf_dir_configures_nothing(conf_dir: str) -> bool:
    """True when the conf dir is absent or holds only ``*.template``
    files, so replacing it changes no setting."""
    try:
        names = os.listdir(conf_dir)
    except FileNotFoundError:
        return True
    return all(n.endswith(".template") for n in names)


def _private(path: str, want_dir: bool) -> bool:
    """Owned by this user, not a symlink, not group- or world-writable."""
    try:
        st = os.lstat(path)
    except OSError:
        return False
    kind = stat.S_ISDIR if want_dir else stat.S_ISREG
    return (kind(st.st_mode) and st.st_uid == os.geteuid()
            and not st.st_mode & 0o022)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _finished_recording(d: str, key: str) -> dict | None:
    """The largest finished recording for ``key``: its JVM has exited and
    its class list ends on a whole line."""
    best = None
    for name in os.listdir(d):
        if not (name.startswith(key + ".") and name.endswith(".json")):
            continue
        try:
            with open(os.path.join(d, name)) as fh:
                rec = json.load(fh)
            size = os.path.getsize(rec["list"])
            with open(rec["list"], "rb") as fh:
                fh.seek(-1, os.SEEK_END)
                whole = fh.read(1) == b"\n"
        except (OSError, ValueError, KeyError):
            continue
        if whole and not _alive(rec["pid"]) and (
                best is None or size > best["size"]):
            best = dict(rec, size=size)
    return best


def _build(d: str, key: str, java: str, heap: str, rec: dict) -> bool:
    """Dump the archive from a finished recording and publish it by rename;
    on failure leave a ``<key>.failed`` marker so later starts do not
    retry a ~30 s dump on every launch."""
    archive = os.path.join(d, key + ".jsa")
    tmp = f"{archive}.{os.getpid()}.tmp"
    cmd = [java, "-Xshare:dump", f"-Xmx{heap}",
           f"-XX:SharedClassListFile={rec['list']}",
           f"-XX:SharedArchiveFile={tmp}", "-cp", rec["classpath"]]
    with open(os.path.join(d, _BUILD_LOG), "wb") as log:
        try:
            ok = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                timeout=_DUMP_TIMEOUT_S).returncode == 0
        except subprocess.TimeoutExpired:
            ok = False
    if not (ok and os.path.isfile(tmp)):
        with contextlib.suppress(OSError):
            os.remove(tmp)
        open(os.path.join(d, key + ".failed"), "w").close()
        return False
    os.replace(tmp, archive)
    _drop_stale(d, keep=key + ".jsa")
    return True


def _drop_stale(d: str, keep: str) -> None:
    """After a publish: every other key's archive, every recording and
    every leftover temp file or marker goes."""
    for name in os.listdir(d):
        if name not in (keep, _CONF, _LOCK, _BUILD_LOG):
            with contextlib.suppress(OSError):
                os.remove(os.path.join(d, name))


def _map(archive: str) -> str:
    return f"-XX:SharedArchiveFile={archive} {LOG_OPTIONS}"


def prepare(heap: str) -> Start:
    """Decide this start's CDS path.  Never raises for a CDS reason: any
    failure is an ``off:`` state and the engine starts without CDS."""
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    conf_dir = (os.environ.get("SPARK_CONF_DIR")
                or os.path.join(spark_home, "conf"))
    if not conf_dir_configures_nothing(conf_dir):
        return Start("off:conf-dir")
    java = _java()
    if java is None:
        return Start("off:no-java")
    d = cache_dir()
    # the launcher splits extraJavaOptions on whitespace
    if any(c.isspace() or c in "'\"" for c in d):
        return Start("off:cache-path")
    try:
        os.makedirs(d, mode=0o700, exist_ok=True)
        if not _private(d, want_dir=True):
            return Start("off:cache-dir-unsafe")
        empty = os.path.join(d, _CONF)
        os.makedirs(empty, mode=0o700, exist_ok=True)
        if os.listdir(empty):
            return Start("off:conf-dir")
        version, coops = jvm_identity(java, heap)
        entries = launch_classpath(empty, spark_home)
        key = archive_key(version, entries, coops)
        archive = os.path.join(d, key + ".jsa")
        if os.path.exists(archive):
            if not _private(archive, want_dir=False):
                return Start("off:archive-unsafe")
            return Start("mapped", _map(archive), empty)
        if os.path.exists(os.path.join(d, key + ".failed")):
            return Start("off:build-failed")
        rec = _finished_recording(d, key)
        if rec is not None:
            with open(os.path.join(d, _LOCK), "a") as lock:
                try:
                    fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
                except BlockingIOError:
                    return Start("off:build-locked")
                # a concurrent builder may have published meanwhile
                if os.path.exists(archive) or _build(d, key, java, heap,
                                                     rec):
                    return Start("building", _map(archive), empty)
                return Start("off:build-failed")
        listing = os.path.join(d, f"{key}.{uuid.uuid4().hex[:12]}.classlist")
        return Start("recording",
                     f"-XX:DumpLoadedClassList={listing} {LOG_OPTIONS}",
                     empty, tuple(entries), listing)
    except (OSError, subprocess.SubprocessError) as exc:
        return Start(f"off:{type(exc).__name__}")


@contextlib.contextmanager
def launch_env(start: Start):
    """``SPARK_CONF_DIR`` as the start needs it, for the launch only."""
    if start.conf_dir is None:
        yield
        return
    prior = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = start.conf_dir
    try:
        yield
    finally:
        if prior is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = prior


def finish(start: Start, spark) -> None:
    """After launch: save a recording's classpath and JVM pid beside its
    list, or drop the recording when the JVM's classpath is not the keyed
    one (the archive would never map)."""
    if start.recording is None:
        return
    jvm = spark.sparkContext._jvm
    classpath = jvm.System.getProperty("java.class.path")
    launched = {os.path.normpath(p) for p in classpath.split(os.pathsep)}
    if launched != {os.path.normpath(p) for p in start.entries}:
        start.state = "off:classpath-mismatch"
        with contextlib.suppress(OSError):
            os.remove(start.recording)
        return
    sidecar = start.recording[:-len(".classlist")] + ".json"
    with open(sidecar + ".tmp", "w") as fh:
        json.dump({"list": start.recording, "classpath": classpath,
                   "pid": jvm.java.lang.ProcessHandle.current().pid()}, fh)
    os.replace(sidecar + ".tmp", sidecar)
