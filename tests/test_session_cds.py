"""The driver JVM's class-data-sharing archive, and the daily CLI run.

Each case starts fresh Python processes, so each gets a driver JVM of
its own, with ``XDG_CACHE_HOME`` in a temp dir. The first process is a
CLI run over a tiny Latin-1 gz feed: it records the archive, and its
counts are checked against ``run_visits_pipeline``. Later processes map
that archive, or meet a truncated, stale or unusable cache and must
still get a working session.
"""

from __future__ import annotations

import glob
import gzip
import json
import os
import subprocess
import sys

import pytest
from pyspark.find_spark_home import _find_spark_home

from web_analytics_visits_re_processing_spark import cds
from web_analytics_visits_re_processing_spark.pipeline import run_visits_pipeline

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TIMEOUT_S = 300
MAPPED = "source: shared objects file (top)"

# A fresh process: get_spark with the caller's conf from argv[1], one
# action, then the JVM's input arguments and what the session sees.
CHILD = """
import json, os, sys
from web_analytics_visits_re_processing_spark.session import get_spark
spark = get_spark(app_name="cds-test", master="local[1]", extra_conf=json.loads(sys.argv[1]))
assert spark.range(3).count() == 3
bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps({
    "args": list(bean.getInputArguments()),
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
    "marker": spark.conf.get("spark.cds.test.marker", None),
}))
"""


def _env(cache: str, conf_dir: str) -> dict[str, str]:
    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.update(
        XDG_CACHE_HOME=cache,
        SPARK_CONF_DIR=conf_dir,
        SPARK_DRIVER_MEMORY="1g",
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=REPO,
    )
    return env


def _templates_conf(tmp_path) -> str:
    """A conf dir like a fresh Spark install's: templates only."""
    conf = tmp_path / "spark-conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("# spark.master  local[*]\n")
    return str(conf)


def _child(tmp_path, cache: str, conf_dir: str, extra_conf: dict[str, str]) -> dict:
    """Run CHILD in ``tmp_path`` (where a JVM crash log would land)."""
    out = subprocess.run(
        [sys.executable, "-c", CHILD, json.dumps(extra_conf)],
        cwd=tmp_path, env=_env(cache, conf_dir), capture_output=True, text=True,
        timeout=TIMEOUT_S,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _cds_path(cache: str, name: str = "") -> str:
    return os.path.join(cache, "web_analytics_visits_re_processing_spark", "cds", name)


def _cds_files(cache: str) -> list[str]:
    if not os.path.isdir(_cds_path(cache)):
        return []
    return sorted(n for n in os.listdir(_cds_path(cache)) if n.endswith((".jsa", ".tmp")))


def _no_cds_flag(args: list[str]) -> bool:
    return not any("SharedArchiveFile" in a or "ArchiveClassesAtExit" in a for a in args)


def _write_feed(path) -> None:
    """Three users, two visits for one of them, Latin-1 page names."""
    rows = []
    for user, start in (("u1", 1_000), ("u2", 1_100), ("u3", 1_200)):
        for i in range(4):
            rows.append(f"{start + 60 * i}\t{user}\tlo\t\t\t1,2\tM:Café:Müller\tsrv\tibm_{user}\tscv")
    rows.append("9000\tu1\tlo\t\t\t204\tM:Caisse:Payé\tsrv\tibm_u1\tscv")  # gap > 30 min
    rows.append("bad\tu2\tlo\t\t\t1\tM:Ñame\tsrv\tibm_u2b\tscv")  # bad ts: visitor only
    with gzip.open(path, "wb") as fh:
        fh.write("\n".join(rows).encode("iso-8859-1") + b"\n")


@pytest.fixture(scope="module")
def cli_run(tmp_path_factory):
    """One daily CLI run with an empty cache: it records the archive."""
    tmp = tmp_path_factory.mktemp("cli")
    feed = tmp / "feed.tsv.gz"
    _write_feed(feed)
    cache = str(tmp / "xdg")
    out = subprocess.run(
        [sys.executable, "-m", "web_analytics_visits_re_processing_spark.cli",
         "--input", str(feed), "--output", str(tmp / "out"),
         "--encoding", "ISO-8859-1", "--master", "local[2]"],
        cwd=tmp, env=_env(cache, _templates_conf(tmp)), capture_output=True,
        text=True, timeout=TIMEOUT_S,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return {"feed": str(feed), "cache": cache, "stdout": out.stdout}


def test_cli_counts_match_pipeline(spark, cli_run, tmp_path):
    printed = {}
    for line in cli_run["stdout"].splitlines():
        name, _, rest = line.partition(": ")
        if name in ("hits", "visits", "visitors"):
            printed[name] = int(rest.split()[0])
    expected = run_visits_pipeline(
        spark, cli_run["feed"], str(tmp_path / "out"), encoding="ISO-8859-1"
    )
    assert expected == {"hits": 13, "visits": 4, "visitors": 4}
    assert printed == expected


def test_first_run_publishes_one_archive_and_the_next_maps_it(cli_run, tmp_path):
    files = _cds_files(cli_run["cache"])
    assert len(files) == 1 and files[0].endswith(".jsa"), files

    log = tmp_path / "class-load.log"
    got = _child(tmp_path, cli_run["cache"], _templates_conf(tmp_path), {
        "spark.driver.extraJavaOptions": (
            f"-Xms256m -Dderby.system.home={tmp_path / 'derby'} "
            f"-Xlog:class+load:file={log}"
        ),
    })
    assert "-Xms256m" in got["args"]
    assert f"-Dderby.system.home={tmp_path / 'derby'}" in got["args"]
    assert f"-XX:SharedArchiveFile={_cds_path(cli_run['cache'], files[0])}" in got["args"]
    assert MAPPED in log.read_text()
    # The launch's conf dir swap does not leak into the caller's process.
    assert got["conf_dir"] == str(tmp_path / "spark-conf")
    assert _cds_files(cli_run["cache"]) == files


def test_truncated_archive_falls_back_to_a_plain_launch(cli_run, tmp_path):
    (name,) = _cds_files(cli_run["cache"])
    cache = str(tmp_path / "xdg")
    os.makedirs(os.path.dirname(_cds_path(cache, name)))
    with open(_cds_path(cli_run["cache"], name), "rb") as src:
        head = src.read(os.path.getsize(src.name) // 3)
    with open(_cds_path(cache, name), "wb") as dst:
        dst.write(head)

    got = _child(tmp_path, cache, _templates_conf(tmp_path), {})
    assert _no_cds_flag(got["args"])
    assert not list(tmp_path.glob("hs_err_pid*.log"))
    assert _cds_files(cache) == []


def test_stale_archive_still_gives_a_session(cli_run, tmp_path):
    """An archive recorded under another class path, at this key's name:
    the JVM declines to map it, starts without CDS, and the archive is
    deleted."""
    (name,) = _cds_files(cli_run["cache"])
    cache = str(tmp_path / "xdg")
    stale = _cds_path(cache, name)
    os.makedirs(os.path.dirname(stale))
    # The Spark launcher alone, run without arguments: it exits at once
    # and leaves a small archive of its own class path.
    (launcher,) = glob.glob(os.path.join(_find_spark_home(), "jars", "spark-launcher*.jar"))
    subprocess.run(
        [cds.java_binary(), f"-XX:ArchiveClassesAtExit={stale}", "-Xlog:cds=off",
         "-cp", launcher, "org.apache.spark.launcher.Main"],
        capture_output=True, timeout=TIMEOUT_S,
    )
    assert os.path.getsize(stale) > 0

    log = tmp_path / "class-load.log"
    got = _child(tmp_path, cache, _templates_conf(tmp_path), {
        "spark.driver.extraJavaOptions": f"-Xlog:class+load:file={log}",
    })
    assert f"-XX:SharedArchiveFile={stale}" in got["args"]
    assert MAPPED not in log.read_text()
    # The JVM did not map it, so it is gone and the next launch records anew.
    assert _cds_files(cache) == []


def test_user_conf_dir_is_kept_and_cds_skipped(tmp_path):
    conf = tmp_path / "user-conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.cds.test.marker  from-user-conf\n")
    cache = str(tmp_path / "xdg")

    got = _child(tmp_path, cache, str(conf), {})
    assert got["marker"] == "from-user-conf"
    assert got["conf_dir"] == str(conf)
    assert _no_cds_flag(got["args"])
    assert _cds_files(cache) == []


def test_plan_leaves_caller_cds_options_alone(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    monkeypatch.setenv("SPARK_CONF_DIR", _templates_conf(tmp_path))
    spark_home = _find_spark_home()
    assert cds.plan(spark_home, "-Xms1g", "") is not None
    for option in ("-Xshare:off", "-XX:SharedArchiveFile=/x.jsa", "-XX:ArchiveClassesAtExit=/x.jsa"):
        assert cds.plan(spark_home, f"-Xms1g {option}", "") is None


def test_prune_keeps_this_key_and_live_recordings(tmp_path):
    done = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True, check=True)
    dead = int(done.stdout)
    names = {
        "keep.jsa": True,
        "old.jsa": False,
        f"keep.{os.getpid()}.tmp": True,
        f"old.{dead}.tmp": False,
        "conf": True,
        "notes.txt": True,
    }
    for name in names:
        (tmp_path / name).write_bytes(b"x")
    cds.prune(str(tmp_path), "keep.jsa")
    assert sorted(os.listdir(tmp_path)) == sorted(n for n, kept in names.items() if kept)
