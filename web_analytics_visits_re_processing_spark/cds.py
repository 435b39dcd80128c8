"""The driver JVM's class-data-sharing (AppCDS) archive cache.

A JDK dynamic CDS archive holds the parsed and verified form of every
class the driver JVM loaded from its class path, so a JVM started from
it skips most class loading. ``session.get_spark`` asks ``plan`` what to
add to a new driver JVM's options; the JVM records the archive when it
exits, and ``publish`` moves it into place.

- **Cache.** ``$XDG_CACHE_HOME`` (default ``~/.cache``), then
  ``web_analytics_visits_re_processing_spark/cds/``: per user and per
  host, and outside ``TMPDIR`` and ``SPARK_LOCAL_DIRS``, which jobs
  commonly wipe.
- **Key.** A hash of what the archive depends on: the JDK (resolved
  ``java`` binary, its ``release`` file, ``libjvm.so``) and the driver
  class path (every jar in ``$SPARK_HOME/jars`` by name, size and
  mtime, plus ``spark.driver.extraClassPath``, ``HADOOP_CONF_DIR``,
  ``YARN_CONF_DIR`` and ``SPARK_DIST_CLASSPATH``). Changing any of them
  gives a new key, so a new archive is recorded.
- **Conf dir.** The JVM maps an archive only if every directory on the
  class path is empty, and Spark puts the conf dir first on it. CDS is
  used only when the effective conf dir (``SPARK_CONF_DIR``, else
  ``$SPARK_HOME/conf``) holds nothing but ``*.template`` files, so
  Spark would read nothing from it; the launch then points
  ``SPARK_CONF_DIR`` at the cache's empty ``conf/`` dir. Any other conf
  dir is left alone, and CDS is skipped.
- **Stale archives.** An archive at the key's name can still be one
  the JVM declines to map, e.g. one recorded under a class path or JVM
  setting the key does not cover; the JVM then logs "Unable to use
  shared archive" and starts without it. After a launch meant to map
  it, ``drop_unmapped`` reads the JVM's ``/proc/<pid>/maps``, which
  lists the archive only when it is mapped, and deletes an archive
  that is not listed, so the next launch records a new one.
- **Publication.** The JVM writes ``<key>.<pid>.tmp`` as it exits;
  after a clean exit the file is renamed to ``<key>.jsa`` in one
  ``os.replace``, so only complete archives sit at the final name.
  Archives of other keys and the temp files of dead processes are then
  deleted (an archive is ~150 MB).
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
from dataclasses import dataclass

# A caller's own CDS setting wins: the package adds nothing next to one.
_CALLER_CDS_OPTIONS = ("-XX:SharedArchiveFile", "-XX:ArchiveClassesAtExit", "-Xshare:off")
_CLASS_PATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")


@dataclass(frozen=True)
class Plan:
    """What one driver JVM launch does with the cache: map ``archive``
    when ``recording`` is None, else record into ``recording``."""

    archive: str
    recording: str | None
    conf_dir: str

    @property
    def java_option(self) -> str:
        if self.recording is None:
            return f"-XX:SharedArchiveFile={self.archive}"
        # The dump warns once per class it skips (~500 lines on stdout).
        return f"-XX:ArchiveClassesAtExit={self.recording} -Xlog:cds=off"


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "web_analytics_visits_re_processing_spark", "cds")


def java_binary() -> str | None:
    """The ``java`` that Spark's launch scripts run, resolved."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def _stat(path: str) -> str:
    st = os.stat(path)
    return f"{path}:{st.st_size}:{st.st_mtime_ns}"


def archive_key(spark_home: str, extra_class_path: str) -> str | None:
    """The cache key for this JDK and driver class path, or None when
    either cannot be found."""
    java = java_binary()
    jars = os.path.join(spark_home, "jars")
    if java is None or not os.path.isdir(jars):
        return None
    java_home = os.path.dirname(os.path.dirname(java))
    parts = [_stat(java)]
    for name in ("release", os.path.join("lib", "server", "libjvm.so")):
        path = os.path.join(java_home, name)
        if os.path.isfile(path):
            parts.append(_stat(path))
    parts += [_stat(os.path.join(jars, name)) for name in sorted(os.listdir(jars))]
    parts.append(extra_class_path)
    parts += [os.environ.get(name, "") for name in _CLASS_PATH_ENV]
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:20]


def _only_templates(conf_dir: str) -> bool:
    if not os.path.isdir(conf_dir):
        return True
    return all(name.endswith(".template") for name in os.listdir(conf_dir))


def plan(spark_home: str, java_options: str, extra_class_path: str) -> Plan | None:
    """The archive to map or record for a new driver JVM, or None when
    CDS stays off: the caller set CDS options of its own, the conf dir
    holds real settings, or the key cannot be computed."""
    if any(opt in java_options for opt in _CALLER_CDS_OPTIONS):
        return None
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if not _only_templates(conf_dir):
        return None
    key = archive_key(spark_home, extra_class_path)
    if key is None:
        return None
    directory = cache_dir()
    empty_conf = os.path.join(directory, "conf")
    os.makedirs(empty_conf, exist_ok=True)
    if os.listdir(empty_conf):
        return None
    archive = os.path.join(directory, f"{key}.jsa")
    if os.path.isfile(archive):
        return Plan(archive, None, empty_conf)
    return Plan(archive, os.path.join(directory, f"{key}.{os.getpid()}.tmp"), empty_conf)


def crash_logs() -> set[str]:
    """The JVM crash logs in the working directory, where a driver JVM
    that dies on start-up writes its ``hs_err_pid<pid>.log``."""
    return set(glob.glob(os.path.join(os.getcwd(), "hs_err_pid*.log")))


def discard(launch: Plan, logs_before: set[str]) -> None:
    """Clean up after a driver JVM that failed to start under ``launch``:
    the archive it could not map (or its partial recording) and the
    crash logs it left."""
    for path in (launch.recording or launch.archive, *(crash_logs() - logs_before)):
        try:
            os.remove(path)
        except FileNotFoundError:
            pass


def drop_unmapped(launch: Plan, pid: int) -> None:
    """Delete ``launch.archive`` unless the running JVM ``pid`` maps it.
    Where the JVM's memory map cannot be read, the archive is kept."""
    try:
        with open(f"/proc/{pid}/maps") as fh:
            maps = fh.read()
    except OSError:
        return
    if launch.archive in maps or os.path.realpath(launch.archive) in maps:
        return
    try:
        os.remove(launch.archive)
    except FileNotFoundError:
        pass


def publish(launch: Plan) -> None:
    """Move a recording launch's archive to its final name and prune the
    cache. Call only after the recording JVM exited with code 0."""
    if not os.path.isfile(launch.recording):
        return
    os.replace(launch.recording, launch.archive)
    prune(os.path.dirname(launch.archive), os.path.basename(launch.archive))


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def prune(directory: str, keep: str) -> None:
    """Delete every archive in ``directory`` except ``keep``, and every
    ``<key>.<pid>.tmp`` whose process is gone."""
    for name in os.listdir(directory):
        stem, ext = os.path.splitext(name)
        if ext == ".jsa":
            doomed = name != keep
        elif ext == ".tmp":
            pid = os.path.splitext(stem)[1].lstrip(".")
            doomed = not (pid.isdigit() and _alive(int(pid)))
        else:
            continue
        if doomed:
            try:
                os.remove(os.path.join(directory, name))
            except FileNotFoundError:
                pass
