"""Golden sessionization fixture (SURVEY §5.2.2) + parser policy tests.

The fixture is the reference's committed ``data-test/test.tsv`` ported
to the canonical 10-column layout: 6 hits, one user, two sessions
(rows 1-5 span 76 s starting 1517958846; row 6 is ~5.8 days earlier →
its own single-hit session). Expected visits pin the semantics the
reference's own (vacuous) test never checked.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Observation

from web_analytics_visits_re_processing_spark.pipeline import (
    build_visits_pipeline,
    run_visits_pipeline,
)
from web_analytics_visits_re_processing_spark.sources.hitlog import (
    parse_hitlog,
    read_hitlog,
)

USER = "10001026_3484482593"
EVENTS_A = "102,106,110,125,126,136,138,147,184,100,174,131,181"

GOLDEN_ROWS = [
    f"1517958846\t10001026\t3484482593\t\t\t{EVENTS_A}\tM:Home:Home Page\tm.debenhams.com\tibm1\tscv1",
    f"1517958850\t10001026\t3484482593\t\t\t{EVENTS_A}\tM:T-Cat:Beauty\tm.debenhams.com\tibm1\tscv1",
    f"1517958881\t10001026\t3484482593\t\t\t266,272,{EVENTS_A}\tM:PSP:Beauty > Paco Rabanne\tm.debenhams.com\tibm1\tscv1",
    f"1517958883\t10001026\t3484482593\t\t\t{EVENTS_A}\tM:T-Cat:Beauty\tm.debenhams.com\tibm1\tscv1",
    f"1517958922\t10001026\t3484482593\t\t\t266,272,{EVENTS_A}\tM:PSP:Beauty > Paco Rabanne\tm.debenhams.com\tibm1\tscv1",
    f"1517458988\t10001026\t3484482593\t\t\t215,266,272,216,{EVENTS_A}\tM:Search Results:Search\tm.debenhams.com\tibm1\tscv1",
]


@pytest.fixture(scope="module")
def golden_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("hitlog") / "test.tsv"
    p.write_text("\n".join(GOLDEN_ROWS) + "\n")
    return str(p)


def test_golden_sessionization(spark, golden_path):
    parsed = read_hitlog(spark, golden_path)
    result = build_visits_pipeline(parsed, gap_seconds=1800)
    try:
        visits = {r["visit_key"]: r for r in result.visits.collect()}
        assert set(visits) == {f"{USER}_1517458988", f"{USER}_1517958846"}
        v1 = visits[f"{USER}_1517458988"]
        assert (v1["visit_start"], v1["visit_end"]) == (1517458988, 1517458988)
        v2 = visits[f"{USER}_1517958846"]
        assert (v2["visit_start"], v2["visit_end"]) == (1517958846, 1517958922)

        hits = result.hits.collect()
        assert len(hits) == 6
        by_key = {}
        for h in hits:
            by_key.setdefault(h["visit_key"], []).append(h)
        assert len(by_key[f"{USER}_1517458988"]) == 1
        assert len(by_key[f"{USER}_1517958846"]) == 5

        visitors = result.visitors.collect()
        assert [tuple(r) for r in visitors] == [(USER, "ibm1", "scv1")]
    finally:
        result.stamped.unpersist()


def test_event_flags_exact_membership(spark):
    # code '1' (order) must not match '11' (checkout) / '12' (atb) /
    # '204' (payment) — exact list membership like the reference's ==
    lines = spark.createDataFrame(
        [
            ("100\ta\tb\t\t\t11,12,204\tp\ts\ti\tv",),
            ("200\ta\tb\t\t\t1,2,14\tp\ts\ti\tv",),
        ],
        "value string",
    )
    rows = {r["ts"]: r for r in parse_hitlog(lines).collect()}
    r1, r2 = rows[100], rows[200]
    assert (r1["order"], r1["checkout"], r1["atb"], r1["payment"]) == (0, 1, 1, 1)
    assert (r1["pdp_view"], r1["bag_view"]) == (0, 0)
    assert (r2["order"], r2["pdp_view"], r2["bag_view"]) == (1, 1, 1)
    assert (r2["checkout"], r2["atb"], r2["payment"]) == (0, 0, 0)


def test_malformed_rows_dropped_and_counted(spark):
    lines = spark.createDataFrame(
        [
            ("100\ta\tb\t\tsku;7;x\t1,2\tp\ts\ti\tv",),  # good, line_number=7
            ("short\trow",),  # short → drop
            ("notanumber\ta\tb\t\t\t1\tp\ts\ti\tv",),  # bad ts → drop
            ("300\ta\tb\t\tnosemicolon\t1\tp\ts\ti\tv",),  # sane: kept, ln=''
        ],
        "value string",
    )
    obs = Observation("parse")
    out = parse_hitlog(lines, observation=obs).collect()
    assert {r["ts"] for r in out} == {100, 300}
    assert {r["ts"]: r["line_number"] for r in out} == {100: "7", 300: ""}
    m = obs.get
    assert m["rows_in"] == 4
    assert m["short_rows"] == 1
    assert m["bad_timestamp_rows"] == 1
    assert m["dropped_rows"] == 2

    # strict mode also drops the missing-';' products row
    strict = parse_hitlog(lines, strict_reference_mode=True).collect()
    assert {r["ts"] for r in strict} == {100}


def test_pipeline_writes_three_sinks(spark, golden_path, tmp_path):
    out = str(tmp_path / "out")
    counts = run_visits_pipeline(spark, golden_path, out, output_format="csv")
    assert counts == {"hits": 6, "visits": 2, "visitors": 1}
    hits_df = spark.read.csv(f"{out}/hits", sep=",")
    assert hits_df.count() == 6
    assert len(hits_df.columns) == 12  # reference hit CSV order, main.py:106


def test_latin1_gzip_byte_exact_roundtrip(spark, tmp_path):
    """R15 (/root/reference/encoding_update.py:12-36): a gzipped
    ISO-8859-1 hit log must round-trip byte-exact through
    read_hitlog_lines — including bytes that are invalid UTF-8."""
    import gzip

    from web_analytics_visits_re_processing_spark.sources.hitlog import (
        read_hitlog_lines,
    )

    lines = [
        "1517958846\tuser\thi\tcafé\t\t1,2\tM:Home\tsrv\tibm\tscv",
        "1517958850\tüser\tlo\tMüller®\t\t204\tM:Beauty\tsrv\tibm\tscv",
        "plain ascii line",
    ]
    p = tmp_path / "latin1.tsv.gz"
    with gzip.open(p, "wb") as f:
        f.write("\n".join(lines).encode("iso-8859-1") + b"\n")
    # sanity: the Latin-1 bytes are NOT valid UTF-8 (é = 0xE9 alone)
    assert b"\xe9" in gzip.open(p, "rb").read()

    got = [r["value"] for r in read_hitlog_lines(spark, str(p), "ISO-8859-1").collect()]
    assert sorted(got) == sorted(lines)
    # and byte-exact when re-encoded
    assert sorted(s.encode("iso-8859-1") for s in got) == sorted(
        s.encode("iso-8859-1") for s in lines
    )


def test_latin1_reader_keeps_every_line_fuzz(spark, tmp_path):
    """Hypothesis: random byte lines (0x01, quotes, blank lines, CRLF
    endings) read as ISO-8859-1 come back one for one as
    ``line.decode('latin-1')`` with ``rows_in`` equal to the line
    count; on ASCII-only lines the UTF-8 and ISO-8859-1 reads agree on
    lines and parse counters."""
    import gzip
    import itertools

    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from web_analytics_visits_re_processing_spark.sources.hitlog import (
        read_hitlog_lines,
    )

    byte = st.one_of(
        st.sampled_from(b'\x00\x01";,19\xe9\xff '),
        st.integers(0, 255).filter(lambda b: b not in b"\t\n\r"),
    )
    line = st.lists(
        st.lists(byte, max_size=6).map(bytes), max_size=11
    ).map(b"\t".join)
    ending = st.sampled_from([b"\n", b"\r\n"])
    files = itertools.count()

    def read(lines: list[bytes], encoding: str, endings: list[bytes]):
        path = tmp_path / f"feed{next(files)}.tsv.gz"
        with gzip.open(path, "wb") as f:
            f.write(b"".join(raw + end for raw, end in zip(lines, endings)))
        got = [r["value"] for r in read_hitlog_lines(spark, str(path), encoding).collect()]
        obs = Observation()
        read_hitlog(spark, str(path), encoding, observation=obs, drop_bad_ts=False).collect()
        return got, obs.get

    @settings(max_examples=15, deadline=None)
    @given(st.lists(st.tuples(line, ending), min_size=1, max_size=12))
    @example([(b"1\x01x\t\"q", b"\n"), (b"", b"\r\n"), (b"caf\xe9", b"\n")])
    def check(rows):
        lines, endings = [r[0] for r in rows], [r[1] for r in rows]
        got, counters = read(lines, "ISO-8859-1", endings)
        assert got == [raw.decode("latin-1") for raw in lines]
        assert counters["rows_in"] == len(lines)

        ascii_lines = [bytes(b for b in raw if b < 0x80) for raw in lines]
        assert read(ascii_lines, "UTF-8", endings) == read(
            ascii_lines, "ISO-8859-1", endings
        )

    check()


def test_visitor_rows_survive_bad_timestamps(spark, tmp_path):
    """Reference branch order (main.py:214 vs :216): visitors are
    emitted before the timestamp stage, so a row with an unparseable
    ts yields a visitor but never a hit or visit — also for a user
    whose bad-ts rows sit beside good ones."""
    p = tmp_path / "badts.tsv"
    p.write_text(
        "100\tu1\ta\t\t\t1\tp\ts\tibmA\tscvA\n"
        "\tu2\tb\t\t\t1\tp\ts\tibmB\tscvB\n"  # empty ts
        "x\tu3\tc\t\t\t1\tp\ts\tibmC\tscvC\n"  # bad ts, good rows follow
        "200\tu3\tc\t\t\t1\tp\ts\tibmC\tscvC\n"
        "\tu3\tc\t\t\t1\tp\ts\tibmD\tscvD\n"  # bad-ts-only visitor of u3
        "4000\tu3\tc\t\t\t1\tp\ts\tibmC\tscvC\n"  # gap 3800 s: 2nd visit
    )
    out = tmp_path / "out"
    counts = run_visits_pipeline(spark, str(p), str(out))
    assert counts == {"hits": 3, "visits": 3, "visitors": 4}
    visitors = {tuple(r) for r in spark.read.csv(str(out / "visitors")).collect()}
    assert visitors == {
        ("u1_a", "ibmA", "scvA"),
        ("u2_b", "ibmB", "scvB"),
        ("u3_c", "ibmC", "scvC"),
        ("u3_c", "ibmD", "scvD"),
    }
    visits = {tuple(r) for r in spark.read.csv(str(out / "visits")).collect()}
    assert visits == {
        ("u1_a_100", "u1_a", "100", "100"),
        ("u3_c_200", "u3_c", "200", "200"),
        ("u3_c_4000", "u3_c", "4000", "4000"),
    }
    hit_keys = sorted(r[0] for r in spark.read.csv(str(out / "hits")).collect())
    assert hit_keys == ["u1_a_100", "u3_c_200", "u3_c_4000"]


def test_parser_roundtrip_fuzz(spark):
    """Hypothesis fuzz: any tab/newline-free field contents survive
    TSV construction → parse without corruption, reordering, or
    cross-field bleed."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    field = st.text(
        alphabet=st.characters(blacklist_characters="\t\n\r", blacklist_categories=("Cs",)),
        max_size=12,
    )

    @settings(max_examples=15, deadline=None)
    @given(
        ts=st.integers(min_value=0, max_value=2**31 - 1),
        tracking=field,
        page=field,
        server=field,
        ibm=field,
        scv=field,
    )
    def check(ts, tracking, page, server, ibm, scv):
        line = "\t".join(
            [str(ts), "uhi", "ulo", tracking, "", "2,204", page, server, ibm, scv]
        )
        out = parse_hitlog(spark.createDataFrame([(line,)], "value string")).collect()
        assert len(out) == 1
        r = out[0]
        assert r["ts"] == ts
        assert r["user_id"] == "uhi_ulo"
        assert r["tracking_code"] == tracking
        assert (r["page"], r["server"], r["ibm_id"], r["scv_id"]) == (
            page, server, ibm, scv,
        )
        assert (r["pdp_view"], r["payment"], r["order"]) == (1, 1, 0)

    check()


# --- strict-reference-mode golden (r10 verdict item 8) ------------------------

RAW_REFERENCE_ROWS = [
    # the reference's committed data-test/test.tsv format VERBATIM:
    # 8 columns — ts, two id halves, empty tracking, empty products,
    # events, page, server; NO ibm_id/scv_id columns. The reference's
    # own parser IndexErrors on columns[8] for every one of these rows
    # and discards them (main.py:78-81) — its committed sample is
    # schema-drifted relative to its committed code.
    f"1517958846\t10001026\t3484482593\t\t\t{EVENTS_A}\tM:Home:Home Page\tm.debenhams.com",
    f"1517958850\t10001026\t3484482593\t\t\t{EVENTS_A}\tM:T-Cat:Beauty\tm.debenhams.com",
    f"1517958881\t10001026\t3484482593\t\t\t266,272,{EVENTS_A}\tM:PSP:Beauty > Paco Rabanne\tm.debenhams.com",
    f"1517958883\t10001026\t3484482593\t\t\t{EVENTS_A}\tM:T-Cat:Beauty\tm.debenhams.com",
    f"1517958922\t10001026\t3484482593\t\t\t266,272,{EVENTS_A}\tM:PSP:Beauty > Paco Rabanne\tm.debenhams.com",
    f"1517458988\t10001026\t3484482593\t\t\t215,266,272,216,{EVENTS_A}\tM:Search Results:Search\tm.debenhams.com",
]


def test_strict_mode_golden_on_raw_reference_sample(spark, tmp_path):
    """Golden pin of the 8-vs-10-column schema-drift drop policy
    (main.py:78-81) on the reference's own 6-row sample format: every
    row is short (8 < 10 columns), so ALL three sinks are empty — in
    strict mode AND default mode (the short-row drop is the parser's
    schema policy, not a strictness knob; strictness only adds the
    products-';' drop). The counters attribute all 6 drops to
    short_rows."""
    src = tmp_path / "raw.tsv"
    src.write_text("\n".join(RAW_REFERENCE_ROWS) + "\n")
    for strict in (True, False):
        out = str(tmp_path / f"out_{strict}")
        counts = run_visits_pipeline(
            spark, str(src), out, strict_reference_mode=strict
        )
        assert counts == {"hits": 0, "visits": 0, "visitors": 0}, strict
    obs = Observation("raw_sample_parse")
    from web_analytics_visits_re_processing_spark.sources.hitlog import (
        read_hitlog_lines,
    )

    parse_hitlog(
        read_hitlog_lines(spark, str(src)),
        strict_reference_mode=True,
        observation=obs,
    ).collect()
    m = obs.get
    assert m["rows_in"] == 6
    assert m["short_rows"] == 6
    assert m["dropped_rows"] == 6


def test_strict_mode_golden_output_vs_default(spark, tmp_path):
    """Strict-vs-default divergence pinned at the SINK level with
    exact golden CSV lines (reference hit-CSV column order,
    main.py:106): a 10-column row whose non-empty products_string has
    no ';' IndexErrors the reference's split(';')[1] → strict drops
    it; the sane default keeps it with line_number=''."""
    rows = [
        "100\tu\t1\t\tsku;7;x\t1,2,14\tpgA\tsrv\tibmA\tscvA",
        "130\tu\t1\t\tnosemicolon\t12,204\tpgB\tsrv\tibmA\tscvA",
        "160\tu\t1\t\t\t11\tpgC\tsrv\tibmA\tscvA",
    ]
    src = tmp_path / "mixed.tsv"
    src.write_text("\n".join(rows) + "\n")

    out_strict = str(tmp_path / "strict")
    counts = run_visits_pipeline(
        spark, str(src), out_strict, strict_reference_mode=True
    )
    assert counts == {"hits": 2, "visits": 1, "visitors": 1}
    got = sorted(
        line
        for part in __import__("pathlib").Path(f"{out_strict}/hits").glob("*.csv")
        for line in part.read_text().splitlines()
    )
    assert got == [
        "u_1_100,100,srv,\"\",pgA,7,1,0,1,0,0,1",
        "u_1_100,160,srv,\"\",pgC,\"\",0,0,0,1,0,0",
    ]
    visits = [
        line
        for part in __import__("pathlib").Path(f"{out_strict}/visits").glob("*.csv")
        for line in part.read_text().splitlines()
    ]
    assert visits == ["u_1_100,u_1,100,160"]

    out_default = str(tmp_path / "default")
    counts = run_visits_pipeline(spark, str(src), out_default)
    assert counts == {"hits": 3, "visits": 1, "visitors": 1}
