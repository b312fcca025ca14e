"""Round 8 operator tests.

Opens with the three ADVICE-r7 regression fixes (many-record WARC
member linearity, mdhd v1 length guard, html_extract whitespace
normalization); the round's new operators (crawl composition,
persisted-blob ingest, PDF extraction, URL/domain ops) append below.
"""
import json
import struct

import pytest
from pyspark.sql import functions as F


def test_warc_many_record_member_parses_linear():
    """ADVICE r7: _parse_record used to copy the member tail per
    record (O(n²) bytes for a many-record member).  The indexed
    rewrite must still parse a member holding MANY records exactly —
    and fast enough that a quadratic regression would time out."""
    import gzip
    import time

    from aprs2influxdb_spark.functions.warc import parse_warc_gz

    n = 2000
    payload = b"x" * 200
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        + b"Content-Length: " + str(len(payload)).encode() + b"\r\n\r\n"
        + payload + b"\r\n\r\n"
    )
    blob = gzip.compress(rec * n, mtime=0)
    t0 = time.monotonic()
    got = parse_warc_gz(blob)
    elapsed = time.monotonic() - t0
    assert len(got) == n
    assert all(p == payload for _, p in got)
    assert all(h["WARC-Type"] == "response" for h, _ in got)
    # quadratic tail-copying at n=2000 × 230B records copies ~460 MB;
    # linear parsing finishes this in well under a second
    assert elapsed < 10.0


def test_mp4_mdhd_v1_short_body_specific_error():
    """ADVICE r7: a version-1 mdhd needs 24 bytes to reach the
    timescale; a 20-23 byte v1 body must raise the SPECIFIC mdhd
    message, not fall through to struct.error / generic malformed."""
    from aprs2influxdb_spark.functions.mp4 import parse_mp4

    def wrap(mdhd_body: bytes) -> bytes:
        trak_kids = struct.pack(">I", 8 + len(mdhd_body)) + b"mdhd" + mdhd_body
        mdia = struct.pack(">I", 8 + len(trak_kids)) + b"mdia" + trak_kids
        trak = struct.pack(">I", 8 + len(mdia)) + b"trak" + mdia
        mvhd_body = struct.pack(">B3x", 0) + struct.pack(">III", 0, 0, 1000) + b"\x00" * 80
        mvhd = struct.pack(">I", 8 + len(mvhd_body)) + b"mvhd" + mvhd_body
        moov = struct.pack(">I", 8 + len(mvhd) + len(trak)) + b"moov" + mvhd + trak
        ftyp = struct.pack(">I", 24) + b"ftyp" + b"isom" + struct.pack(">I", 0) + b"isomiso2"
        return ftyp + moov

    # v1 marker byte, then only 19 more bytes: 20 total — enough for
    # v0 (timescale at 12..16) but NOT v1 (timescale at 20..24)
    short_v1 = struct.pack(">B3x", 1) + b"\x00" * 16
    assert len(short_v1) == 20
    with pytest.raises(ValueError, match="mdhd body too short"):
        parse_mp4(wrap(short_v1))
    # a full v1 mdhd (timescale at offset 20) still parses
    ok_v1 = struct.pack(">B3x", 1) + struct.pack(">QQI", 0, 0, 1000) + struct.pack(">Q", 0)
    assert parse_mp4(wrap(ok_v1))["n_tracks"] == 1
    # sub-20-byte bodies keep the guard for both versions
    with pytest.raises(ValueError, match="mdhd body too short"):
        parse_mp4(wrap(struct.pack(">B3x", 0) + b"\x00" * 8))


def test_html_extract_handles_irregular_whitespace(spark):
    """ADVICE r7: q_html_extract's hard assert crashed on documents
    whose text carries consecutive/trailing spaces (split produced
    empty words → whitespace-only chunks the extractor drops but the
    expectation kept).  The normalized chunking must run such docs
    clean, matching the SQL oracle's list_filter."""
    import duckdb
    import pandas as pd

    from aprs2influxdb_spark.queries import SQL_HTML_EXTRACT, q_html_extract

    docs = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [
            "alpha  beta   gamma ",          # consecutive + trailing
            " lead trail  ",                  # leading + trailing
            "  ",                             # whitespace-only → no chunks
            " ".join(f"w{i}" for i in range(40)) + "  tail",
        ],
    })
    sdf = spark.createDataFrame(docs)
    sdf.createOrReplaceTempView("documents")
    import aprs2influxdb_spark.queries as Q

    orig = Q._t
    Q._t = lambda sp, sf, name: sp.table(name)
    try:
        got = q_html_extract(spark, "unused").toPandas()
    finally:
        Q._t = orig
    con = duckdb.connect()
    con.register("documents", docs)
    want = con.execute(SQL_HTML_EXTRACT).df()
    got = got.sort_values("doc_id").reset_index(drop=True)
    want = want.sort_values("doc_id").reset_index(drop=True)
    assert got["body_len"].astype(int).tolist() == want["body_len"].astype(int).tolist()
    assert got["n_chunks"].astype(int).tolist() == want["n_chunks"].astype(int).tolist()


class TestPdfCodec:
    """functions/pdftext.py (round 8): the honest stdlib PDF subset —
    xref-table object walk, FlateDecode streams, Tj/TJ text ops,
    ``PDF:`` dead-letter contract (the codec family's convention)."""

    def test_roundtrip_multi_page_and_escapes(self):
        from aprs2influxdb_spark.functions.pdftext import (
            encode_pdf_text,
            extract_pdf_text,
            is_pdf,
        )

        pages = [
            "hello world this is page one",
            "page two with (nested (parens)) and \\ backslash",
            "",
            "tab\ttext and newline-free lines",
        ]
        b = encode_pdf_text(pages)
        assert is_pdf(b)
        assert extract_pdf_text(b) == pages
        # uncompressed content streams parse identically
        assert extract_pdf_text(encode_pdf_text(pages, compress=False)) == pages
        # deterministic bytes (media-store cache + oracle fixtures)
        assert encode_pdf_text(pages) == b

    def test_tj_array_and_operand_discipline(self):
        """A handwritten content stream: TJ arrays concatenate their
        strings (kern numbers ignored); a string consumed by a NON-
        text operator must not leak into the output; strings outside
        BT/ET are ignored."""
        import zlib

        from aprs2influxdb_spark.functions.pdftext import (
            encode_pdf_text,
            extract_pdf_text,
        )

        base = encode_pdf_text(["placeholder"])
        content = (
            b"(outside bt) Tj "
            b"BT /F1 12 Tf (dropped operand) Tw "
            b"[(Hel) -20 (lo) 5 ( wor) (ld)] TJ "
            b"(and more) Tj ET"
        )
        data = zlib.compress(content, 9)
        # splice: rebuild the single-page doc with this stream by
        # swapping the contents object (object 5 in the writer layout)
        old = base.split(b"5 0 obj\n", 1)
        head = b"<< /Length %d /Filter /FlateDecode >>" % len(data)
        tail_after = old[1].split(b"endobj\n", 1)[1]
        blob = (
            old[0] + b"5 0 obj\n" + head + b"\nstream\n" + data
            + b"\nendstream\nendobj\n" + tail_after
        )
        # xref offsets after object 5 shifted: rewrite xref from scratch
        # by re-deriving offsets of "N 0 obj" markers
        import re

        offsets = {
            int(m.group(1)): m.start()
            for m in re.finditer(rb"(\d+) 0 obj\n", blob)
        }
        xref_at = blob.find(b"xref\n")
        out = bytearray(blob[:xref_at])
        xref_at = len(out)
        n = max(offsets) + 1
        out += b"xref\n0 %d\n0000000000 65535 f \n" % n
        for i in range(1, n):
            out += b"%010d 00000 n \n" % offsets[i]
        out += (
            b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (n, xref_at)
        )
        got = extract_pdf_text(bytes(out))
        assert got == ["Hello world and more"]

    def test_dead_letters(self):
        import re

        from aprs2influxdb_spark.functions import pdftext as P

        b = P.encode_pdf_text(["alpha beta", "gamma"])
        cases = [
            (b"not a pdf at all", "missing %PDF- header"),
            (b[:-20], "startxref"),
            (re.sub(rb"startxref\s+\d+", b"startxref\n3", b), "xref table not at"),
            (b[:200] + b[-200:], "PDF:"),
            (b.replace(b"/Length", b"/Lengtt", 1), "without a valid /Length"),
            (b.replace(b"/Root 1 0 R", b"/Roof 1 0 R", 1), "/Root"),
        ]
        for blob, msg in cases:
            with pytest.raises(ValueError, match=re.escape(msg)):
                P.extract_pdf_text(blob)

    def test_flate_bomb_dead_letters_not_oom(self):
        from aprs2influxdb_spark.functions import pdftext as P

        old = P.MAX_STREAM_BYTES
        P.MAX_STREAM_BYTES = 1 << 10
        try:
            huge = P.encode_pdf_text(["y" * 100_000])
            with pytest.raises(ValueError, match="decode bound"):
                P.extract_pdf_text(huge)
        finally:
            P.MAX_STREAM_BYTES = old

    def test_writer_rejects_non_latin1(self):
        from aprs2influxdb_spark.functions.pdftext import encode_pdf_text

        with pytest.raises(ValueError, match="latin-1"):
            encode_pdf_text(["中文"])
        with pytest.raises(ValueError, match="at least one page"):
            encode_pdf_text([])


class TestMediaStore:
    """media_store.py (round 8): persisted blob columns built once
    per sf, deterministic, column-prunable, atomic."""

    def test_build_read_and_reuse(self, spark, sf_dir, tmp_path, monkeypatch):
        import os

        from aprs2influxdb_spark import media_store as M

        monkeypatch.setenv("SPARK_GRAFT_MEDIA_CACHE", str(tmp_path / "mc"))
        p1 = M.ensure_media(spark, sf_dir)
        mtime = os.path.getmtime(os.path.join(p1, "_SUCCESS"))
        # second call reuses the cache (no rebuild)
        assert M.ensure_media(spark, sf_dir) == p1
        assert os.path.getmtime(os.path.join(p1, "_SUCCESS")) == mtime

        df = M.media_table(spark, sf_dir, "pdf")
        assert df.columns == ["doc_id", "pdf"]
        row = df.orderBy("doc_id").first()
        # blob content is the doc-id closed form: re-synthesize & compare
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        text = docs.filter(docs.doc_id == row["doc_id"]).first()["text"]
        assert bytes(row["pdf"]) == M.synth_pdf(int(row["doc_id"]), text)

    def test_warc_shard_files_cover_corpus(self, spark, sf_dir, tmp_path, monkeypatch):
        import os

        from aprs2influxdb_spark import media_store as M
        from aprs2influxdb_spark.functions.warc import parse_warc_gz

        monkeypatch.setenv("SPARK_GRAFT_MEDIA_CACHE", str(tmp_path / "mc"))
        d = M.ensure_warc_files(spark, sf_dir)
        files = sorted(f for f in os.listdir(d) if f.endswith(".warc.gz"))
        n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        n_shards = M.warc_shards_for(n_docs)
        assert len(files) == n_shards
        # the scale-aware knob itself: fixed floor, then linear files
        assert M.warc_shards_for(5_000) == M.N_WARC_SHARDS
        assert M.warc_shards_for(500_000) == 80
        assert M.warc_shards_for(5_000_000) == 800
        seen = set()
        for f in files:
            shard = int(f.split("-")[1].split(".")[0])
            with open(os.path.join(d, f), "rb") as fh:
                recs = parse_warc_gz(fh.read())
            assert len(recs) % 4 == 0
            for at in range(0, len(recs), 4):
                uri = recs[at + 2][0]["WARC-Target-URI"]
                doc = int(uri.rsplit("/", 1)[-1])
                assert doc % n_shards == shard
                seen.add(doc)
        assert len(seen) == n_docs

    def test_crawl_page_extraction_identity(self):
        from aprs2influxdb_spark.functions.htmltext import extract_html
        from aprs2influxdb_spark.media_store import crawl_page, norm_text

        for d, text in [
            (7, "alpha beta  gamma "),
            (8, "plain words only"),
            (9, "with <angle> & amp chars"),
            (10, ""),
        ]:
            got = extract_html(crawl_page(d, text))
            assert got["title"] == f"Doc {d}"
            assert got["text"] == norm_text(text)


class TestEpochStateBucketing:
    """Round 8 (verdict-r7 item 6): the epoch-state probe tables are
    written BUCKETED on their join keys — shingles(doc_id),
    lsh_bands(band,key), semantic_index(c_id,bucket) — so a batch
    rescreen shuffles ONLY the batch; the saved corpus reaches every
    join through its bucket layout."""

    def _persist(self, spark, sf_dir, path, **kw):
        from aprs2influxdb_spark.operators.epoch_state import (
            persist_contamination_state,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        persist_contamination_state(docs, emb, path, **kw)
        return docs, emb

    def _batch(self, spark):
        new_docs = spark.createDataFrame(
            [(900_001, "spark scan column value fast " * 6),
             (900_002, "qqq www eee rrr ttt yyy uuu iii " * 4)],
            "doc_id long, text string",
        )
        new_emb = spark.createDataFrame(
            [(900_001, [float((i * 31 + 3) % 11 - 5) for i in range(64)]),
             (900_002, [float((i * 17 + 5) % 9 - 4) for i in range(64)])],
            "vec_id long, embedding array<float>",
        )
        return new_docs, new_emb

    def test_batch_rescreen_never_shuffles_the_index(
        self, spark, sf_dir, tmp_path
    ):
        """Plan witness: every scan of the three bucketed epoch
        tables reports ``Bucketed: true`` (the planner consumed the
        bucket partitioning instead of inserting an Exchange above
        the scan).  A ``Bucketed: false`` on an epoch-table scan
        means the index is being shuffled per batch — the exact
        failure mode bucketing exists to prevent at 100 TB."""
        from aprs2influxdb_spark.operators.epoch_state import rescreen_new_batch
        from aprs2influxdb_spark.plans import executed_plan

        state = str(tmp_path / "epochB")
        self._persist(spark, sf_dir, state)
        new_docs, new_emb = self._batch(spark)
        plan = executed_plan(rescreen_new_batch(spark, state, new_docs, new_emb))
        scans = [
            line
            for line in plan.splitlines()
            if "Scan parquet" in line and "epoch_" in line
        ]
        assert len(scans) >= 3, plan[:2000]
        bad = [s for s in scans if "Bucketed: true" not in s]
        assert not bad, f"epoch-table scans without bucket use:\n" + "\n".join(bad)

    def test_bucketed_probe_row_equal_to_plain(self, spark, sf_dir, tmp_path):
        """Same epoch persisted bucketed (default) and plain
        (n_buckets=0): the frozen-batch rescreen returns identical
        rows — the layout is a performance property, never a result
        property.  Also covers the pre-round-8 fallback (a saved
        epoch without bucket metadata still loads)."""
        from aprs2influxdb_spark.operators.epoch_state import rescreen_new_batch

        sb = str(tmp_path / "eb")
        sp = str(tmp_path / "ep")
        self._persist(spark, sf_dir, sb)
        self._persist(spark, sf_dir, sp, n_buckets=0)
        new_docs, new_emb = self._batch(spark)
        got_b = sorted(
            tuple(r) for r in rescreen_new_batch(spark, sb, new_docs, new_emb).collect()
        )
        got_p = sorted(
            tuple(r) for r in rescreen_new_batch(spark, sp, new_docs, new_emb).collect()
        )
        assert got_b == got_p
        assert len(got_b) == 2


class TestBroadcastCalibration:
    """Round 8 (verdict-r7 item 7): the broadcast-dim calibration
    strategy — the soak A/B winner at realistic key counts, now the
    cli.py default sink."""

    def _packets(self, spark, frames):
        from aprs2influxdb_spark.sources.aprsis import decode_frames

        raw = spark.createDataFrame(
            [(f, None) for f in frames], "raw string, ingest_ts timestamp"
        ).withColumn("ingest_ts", F.current_timestamp())
        return decode_frames(raw)

    def test_dim_refresh_applies_next_batch(self, spark):
        """Batch 1 carries a telemetry EQNS message + a telemetry data
        frame: the data frame is emitted UNCALIBRATED (dim as of batch
        start — the documented semantics).  Batch 2's data frame from
        the same sender scales through the absorbed equations."""
        from aprs2influxdb_spark.streaming.calibration import BroadcastCalibrator

        eqns = "KB1AAA>APRS::KB1AAA   :EQNS.0,2,0,0,1,0,0,1,0,0,1,0,0,1,0"
        data = "KB1AAA>APRS:T#005,100,2,3,4,5,10101010"
        calib = BroadcastCalibrator(spark)

        out1 = calib.apply(self._packets(spark, [eqns, data]), 0).collect()
        # the equation row is absorbed (never emitted); the data row
        # rides through with NO equations yet
        assert len(out1) == 1
        assert out1[0]["eqns_json"] is None
        assert calib._dim  # dim refreshed from batch 1

        out2 = calib.apply(self._packets(spark, [data]), 1).collect()
        assert len(out2) == 1
        got = json.loads(out2[0]["eqns_json"])
        assert got[0] == [0.0, 2.0, 0.0]  # a1 scales 2x from batch 2 on

        # the sender re-sends the same equations: the dim frame is kept
        dim = calib._dim_df
        out3 = calib.apply(self._packets(spark, [eqns, data]), 2).collect()
        assert json.loads(out3[0]["eqns_json"])[0] == [0.0, 2.0, 0.0]
        assert calib._dim_df is dim

        # changed equations: still the old ones within their own batch,
        # then the dim frame is rebuilt and the new ones apply
        eqns3 = eqns.replace("EQNS.0,2,0", "EQNS.0,3,0")
        out4 = calib.apply(self._packets(spark, [eqns3, data]), 3).collect()
        assert json.loads(out4[0]["eqns_json"])[0] == [0.0, 2.0, 0.0]
        out5 = calib.apply(self._packets(spark, [data]), 4).collect()
        assert json.loads(out5[0]["eqns_json"])[0] == [0.0, 3.0, 0.0]
        assert calib._dim_df is not dim

    @pytest.mark.parametrize("path", ["apply", "sink"])
    def test_fold_last_write_wins(self, spark, path):
        """Two EQNS frames from one sender in one batch: the later
        ``ingest_ts`` wins, and on a tie the larger ``raw`` (the
        ``max_by(..., struct(ingest_ts, raw))`` order of the batch
        window), wherever the frames sit in the batch.  An unchanged
        re-send keeps the dim frame; a changed one applies from the
        next batch.  Both the sink's pass (``lines`` + ``fold``) and
        ``apply`` go through the same fold."""
        import datetime

        from aprs2influxdb_spark.sources.aprsis import decode_frames
        from aprs2influxdb_spark.streaming.calibration import BroadcastCalibrator

        t0 = datetime.datetime(2026, 1, 1)
        data = "KB1AAA>APRS:T#005,100,2,3,4,5,10101010"
        calib = BroadcastCalibrator(spark)

        def eqns(b):
            return f"KB1AAA>APRS::KB1AAA   :EQNS.0,{b},0,0,1,0,0,1,0,0,1,0,0,1,0"

        def batch(*frames):
            """The analog1 scale the batch's data frame was written with."""
            df = decode_frames(spark.createDataFrame(
                [(f, t0 + datetime.timedelta(seconds=s)) for f, s in frames],
                "raw string, ingest_ts timestamp",
            ))
            if path == "apply":
                (row,) = calib.apply(df).collect()
                return json.loads(row["eqns_json"])[0][1] if row["eqns_json"] else 1.0
            rows = calib.lines(df).collect()
            calib.fold(r["eqns"] for r in rows if r["eqns"] is not None)
            (line,) = [r["line"] for r in rows if r["line"] is not None]
            return float(line.split("analog1=")[1].split(",")[0]) / 100

        # later ingest_ts wins over the larger raw listed last
        assert batch((data, 0), (eqns(2), 2), (eqns(3), 1)) == 1.0
        # a tie on ingest_ts: the larger raw wins, though listed first
        assert batch((eqns(4), 11), (eqns(3), 11), (data, 10)) == 2.0
        assert batch((data, 20),) == 4.0
        dim = calib._dim_df
        # an unchanged re-send keeps the dim frame
        assert batch((data, 30), (eqns(4), 31)) == 4.0
        assert calib._dim_df is dim
        # a changed one applies from the next batch, on a rebuilt frame
        assert batch((eqns(6), 40), (data, 41)) == 4.0
        assert batch((data, 50),) == 6.0
        assert calib._dim_df is not dim

    @pytest.mark.parametrize("path", ["apply", "sink"])
    def test_non_finite_equations_match_batch_oracle(self, spark, path):
        """Coefficients the parser reads as non-finite (``nan``,
        ``1e999``, ``-inf``) reach the next batch's lines as the batch
        oracle writes them, through the sink's pass (``lines`` +
        ``fold``) and through ``apply``: ``to_json`` renders them as the
        strings ``"NaN"``/``"Infinity"``, which the dim must read back
        as doubles, and a later batch must still run."""
        import datetime

        from aprs2influxdb_spark.operators.calibration import with_effective_equations
        from aprs2influxdb_spark.operators.projections import to_line_protocol
        from aprs2influxdb_spark.sources.aprsis import decode_frames
        from aprs2influxdb_spark.streaming.calibration import BroadcastCalibrator
        from aprs2influxdb_spark.streaming.pipeline import stream_lines

        t0 = datetime.datetime(2026, 1, 1)
        schema = "raw string, ingest_ts timestamp"
        eqns = "KB1AAA>APRS::KB1AAA   :EQNS.nan,1,0,0,1e999,0,0,1,-inf,0,1,0,0,1,0"
        batches = [
            [(eqns, t0)],
            [("KB1AAA>APRS:T#005,100,2,3,4,5,10101010", t0 + datetime.timedelta(seconds=1))],
            [("KB1AAA>APRS:T#006,100,2,3,4,5,10101010", t0 + datetime.timedelta(seconds=2))],
        ]
        calib = BroadcastCalibrator(spark)
        got = []
        for rows in batches:
            df = decode_frames(spark.createDataFrame(rows, schema))
            if path == "apply":
                cal = calib.apply(df).withColumn(
                    "eqns_effective", F.from_json("eqns_json", "array<array<double>>")
                )
                got += [r["line"] for r in stream_lines(cal, eqns_col="eqns_effective").collect()]
            else:
                out = calib.lines(df).collect()
                calib.fold(r["eqns"] for r in out if r["eqns"] is not None)
                got += [r["line"] for r in out if r["line"] is not None]

        want = [
            r["line"]
            for r in to_line_protocol(
                with_effective_equations(
                    decode_frames(spark.createDataFrame(sum(batches, []), schema))
                ),
                eqns_col="eqns_effective",
            ).collect()
        ]
        assert len(got) == 2
        assert sorted(got) == sorted(want)
        assert "analog2=Infinity" in got[0] and "analog3=-Infinity" in got[0], got[0]

    def _run_sink(self, spark, tmp_path, rows, schema):
        """Drive ``influxdb_sink_broadcast_calibrated`` over ``rows``
        (one parquet file, so one micro-batch, per entry) into a live
        stub.  Returns the stub's lines and the Spark jobs each
        micro-batch ran (the query's jobs run in its ``runId`` group)."""
        import sys
        from pathlib import Path

        sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
        from soak import _StubState, start_influx_stub

        from aprs2influxdb_spark.sinks.influxdb import influxdb_sink_broadcast_calibrated
        from aprs2influxdb_spark.sources.aprsis import decode_frames

        src = tmp_path / "raw"
        raw = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
            str(src / "*")
        )
        tracker = spark.sparkContext.statusTracker()
        state = _StubState(keep_lines=True)
        srv, port = start_influx_stub(state)
        q, seen, jobs = None, set(), []
        try:
            for b, batch in enumerate(rows):
                spark.createDataFrame(batch, schema).coalesce(1).write.parquet(str(src / f"b{b}"))
                if q is None:
                    q = influxdb_sink_broadcast_calibrated(
                        decode_frames(raw),
                        checkpoint=str(tmp_path / "ckpt"),
                        url=f"http://127.0.0.1:{port}",
                        db="t",
                    )
                q.processAllAvailable()
                done = set(tracker.getJobIdsForGroup(q.runId))
                jobs.append(len(done - seen))
                seen = done
            n_batches = sum(p.numInputRows > 0 for p in q.recentProgress)
            q.stop()
        finally:
            srv.shutdown()
        assert n_batches == len(rows)
        with state.lock:
            return list(state.got), jobs

    def test_cli_broadcast_sink_end_to_end(self, spark, tmp_path, monkeypatch):
        """cli.py's default path: packet stream -> broadcast-dim
        foreachBatch sink -> HTTP lines on a live stub, over two
        micro-batches.  The stub receives exactly the batch oracle's
        lines: every data frame arrives, the EQNS frame does not, and
        the equations arrive a batch before the telemetry they scale,
        so next-batch application and the as-of oracle agree.
        foreachBatch hands every micro-batch a new session wrapper; the
        serializer's Columns are memoized per SparkContext, so
        ``field_exprs`` is built once across the two batches."""
        import datetime

        from aprs2influxdb_spark.functions import plancache
        from aprs2influxdb_spark.operators import projections
        from aprs2influxdb_spark.operators.calibration import with_effective_equations
        from aprs2influxdb_spark.sources.aprsis import decode_frames

        batches = [
            [
                "KB1AAA>APRS:=4217.22N/07148.38W-test 1",
                "KB1AAA>APRS::KB1AAA   :EQNS.0,2,0,0,1,0,0,1,0,0,1,0,0,1,0",
                "KB1AAA>APRS:>status msg",
            ],
            [
                "KB1AAA>APRS:T#005,100,2,3,4,5,10101010",
                "KB1AAA>APRS:=4217.22N/07148.38W-test 2",
            ],
        ]
        t0 = datetime.datetime(2026, 1, 1)
        rows = [
            [(f, t0 + datetime.timedelta(minutes=b, seconds=i)) for i, f in enumerate(frames)]
            for b, frames in enumerate(batches)
        ]
        schema = "raw string, ingest_ts timestamp"

        spark.sparkContext.__dict__.pop(plancache._COLUMN_ATTR, None)
        built = []
        real = projections.field_exprs
        monkeypatch.setattr(
            projections, "field_exprs", lambda *a: built.append(a) or real(*a)
        )
        got, _ = self._run_sink(spark, tmp_path, rows, schema)
        assert len(built) == 1

        want = [
            r["line"]
            for r in projections.to_line_protocol(
                with_effective_equations(
                    decode_frames(spark.createDataFrame(rows[0] + rows[1], schema))
                ),
                eqns_col="eqns_effective",
            ).collect()
        ]
        assert len(got) == 4  # EQNS frame absorbed, 4 data lines
        assert sorted(got) == sorted(want)
        assert any("analog1=200.0" in ln for ln in got)  # batch 2 calibrated

    def test_broadcast_sink_one_pass_per_batch(self, spark, tmp_path, caplog):
        """Each data micro-batch is one pass over the batch: the dim's
        broadcast and the write, two Spark jobs, with the batch neither
        persisted nor shuffled for the equation rows.  The second batch
        follows a changed dim, the third an unchanged one.  Each batch
        logs the lines its partitions wrote."""
        import datetime
        import logging

        t0 = datetime.datetime(2026, 1, 1)
        frames = [
            ["KB1AAA>APRS::KB1AAA   :EQNS.0,2,0,0,1,0,0,1,0,0,1,0,0,1,0",
             "KB1AAA>APRS:>status msg"],
            ["KB1AAA>APRS:T#005,100,2,3,4,5,10101010"],
            ["KB1AAA>APRS:T#006,100,2,3,4,5,10101010"],
        ]
        rows = [
            [(f, t0 + datetime.timedelta(minutes=b, seconds=i)) for i, f in enumerate(fs)]
            for b, fs in enumerate(frames)
        ]
        with caplog.at_level(logging.DEBUG, logger="aprs2influxdb_spark"):
            got, jobs = self._run_sink(spark, tmp_path, rows, "raw string, ingest_ts timestamp")
        assert len(got) == 3
        assert jobs == [2, 2, 2]
        written = [
            r.getMessage() for r in caplog.records if "lines written" in r.getMessage()
        ]
        assert written == [f"batch {b}: 1 lines written" for b in range(3)]


def test_column_memo_builds_once_under_concurrent_misses():
    """Threads that miss the same ``column_memo`` key at once (a stream's
    batch thread and a driver thread) run one build between them and
    all get its result."""
    import sys
    import threading
    import time
    import types

    from aprs2influxdb_spark.functions.plancache import column_memo

    spark = types.SimpleNamespace(sparkContext=types.SimpleNamespace())
    builds, got = [], []

    def build():
        builds.append(1)
        time.sleep(0.05)
        return object()

    threads = [
        threading.Thread(target=lambda: got.append(column_memo(spark, ("k",), build)))
        for _ in range(16)
    ]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1
    assert len(got) == 16 and all(g is got[0] for g in got)


# ---------------------------------------------------------------------------
# round-8b: training-mix operators (mixture / split / upsample / pack / ridge)
# ---------------------------------------------------------------------------


class TestMixtureSample:
    def test_flattens_toward_uniform_and_is_deterministic(self, spark, sf_dir):
        """α=0.5 semantics: the smallest language keeps everything
        (keep_ppm = 1e6), every other language keeps a strictly smaller
        deterministic fraction, and two invocations return identical
        rows (no rand() anywhere)."""
        from aprs2influxdb_spark.queries import registry

        build = registry()["mixture_sample"][0]
        kept = build(spark, sf_dir)
        dims = {
            r["lang"]: r["keep_ppm"]
            for r in kept.select("lang", "keep_ppm").distinct().collect()
        }
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        counts = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        min_lang = min(counts, key=lambda k: (counts[k], k))
        assert dims[min_lang] == 1_000_000
        max_lang = max(counts, key=lambda k: (counts[k], k))
        assert dims[max_lang] < 1_000_000
        a = sorted(r["doc_id"] for r in kept.collect())
        b = sorted(r["doc_id"] for r in build(spark, sf_dir).collect())
        assert a == b and 0 < len(a) < docs.count()


class TestStratifiedSplit:
    def test_quotas_exact_per_stratum(self, spark, sf_dir):
        """80/10/10 by integer arithmetic: train = floor(0.8n),
        train+val = floor(0.9n), test = the remainder — exactly, for
        every language."""
        from aprs2influxdb_spark.queries import registry

        out = registry()["stratified_split"][0](spark, sf_dir)
        cells = {
            (r["lang"], r["split"]): r["n"]
            for r in out.groupBy("lang", "split").agg(F.count("*").alias("n")).collect()
        }
        langs = {k[0] for k in cells}
        for lang in langs:
            n = sum(v for (lg, _), v in cells.items() if lg == lang)
            assert cells.get((lang, "train"), 0) == (8 * n) // 10
            assert cells.get((lang, "train"), 0) + cells.get((lang, "val"), 0) == (9 * n) // 10


class TestDocUpsampleEpochs:
    def test_epochs_dense_and_tiered(self, spark, sf_dir):
        from aprs2influxdb_spark.queries import registry

        out = registry()["doc_upsample_epochs"][0](spark, sf_dir)
        per = out.groupBy("doc_id", "n_epochs").agg(
            F.count("*").alias("rows"), F.min("epoch").alias("lo"), F.max("epoch").alias("hi")
        )
        bad = per.filter(
            (F.col("rows") != F.col("n_epochs"))
            | (F.col("lo") != 1)
            | (F.col("hi") != F.col("n_epochs"))
            | (F.col("n_epochs") < 1)
            | (F.col("n_epochs") > 4)
        ).count()
        assert bad == 0


class TestSequencePack:
    def test_greedy_invariants_hold(self, spark, sf_dir):
        """No pack exceeds L tokens; offsets are the exact running sum
        in doc_id order; pack ids are dense from 0 per shard."""
        from aprs2influxdb_spark.queries import _PACK_L, registry

        rows = registry()["sequence_pack"][0](spark, sf_dir).collect()
        by_shard: dict = {}
        for r in rows:
            by_shard.setdefault(r["shard"], []).append(r)
        assert len(by_shard) > 1
        for shard, rs in by_shard.items():
            rs.sort(key=lambda r: r["doc_id"])
            pack, used = 0, 0
            for r in rs:
                if used + r["len"] > _PACK_L:
                    pack += 1
                    used = 0
                assert r["pack_id"] == pack, (shard, r)
                assert r["pack_offset"] == used, (shard, r)
                used += r["len"]
                assert used <= _PACK_L

    def test_pack_efficiency_bounds(self, spark, sf_dir):
        from aprs2influxdb_spark.queries import _PACK_L, registry

        for r in registry()["pack_efficiency"][0](spark, sf_dir).collect():
            assert 0.0 < r["fill_ratio"] <= 1.0
            assert 0.0 <= r["naive_pad_ratio"] < 1.0
            assert r["n_packs"] * 1.0 >= r["tokens_packed"] / float(_PACK_L)

    def test_streaming_pack_equals_batch(self, spark, sf_dir):
        """The streaming twin's single-batch gate run must reproduce
        the batch pack assignment row-for-row."""
        from aprs2influxdb_spark.queries import registry

        reg = registry()
        batch = {
            (r["shard"], r["doc_id"]): (r["pack_id"], r["pack_offset"], r["len"])
            for r in reg["sequence_pack"][0](spark, sf_dir).collect()
        }
        stream = {
            (r["shard"], r["doc_id"]): (r["pack_id"], r["pack_offset"], r["len"])
            for r in reg["streaming_sequence_pack"][0](spark, sf_dir).collect()
        }
        assert batch == stream and len(batch) > 0

    def test_streaming_pack_carries_state_across_batches(self, spark, tmp_path):
        """Two arrival waves (doc_id-ascending per the ordered-ingest
        contract): wave-2 docs must continue each shard's (pack, used)
        cursor, not restart at pack 0.  Batch boundaries are made
        deterministic by writing wave1 only after the stream has
        drained wave0 (processAllAvailable) — no mtime-ordering
        dependence (round-9 ADVICE)."""
        import pyspark.sql.types as T

        from aprs2influxdb_spark.queries import (
            _PACK_L,
            _pack_projection,
            pack_shards_for,
        )
        from aprs2influxdb_spark.streaming.bounded import (
            PACK_OUTPUT,
            PACK_STATE,
            _pack_group,
        )
        from pyspark.sql.streaming.state import GroupStateTimeout

        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        )
        def mk(i):
            return (i, " ".join(f"w{j}" for j in range(40 + (i * 7) % 50)))

        waves = [[mk(i) for i in range(0, 60)], [mk(i) for i in range(60, 120)]]
        d = tmp_path / "docs"
        d.mkdir()

        def write_wave(i):
            spark.createDataFrame(waves[i], schema).coalesce(1).write.parquet(
                str(d / f"wave{i}")
            )

        n_shards = pack_shards_for(120)
        write_wave(0)
        stream = spark.readStream.schema(schema).parquet(str(d / "wave*"))
        packed = (
            _pack_projection(stream, n_shards)
            .groupBy("shard")
            .applyInPandasWithState(
                _pack_group, PACK_OUTPUT, PACK_STATE, "append",
                GroupStateTimeout.NoTimeout,
            )
        )
        q = (
            packed.writeStream.format("memory").queryName("spack2")
            .outputMode("append").start()
        )
        q.processAllAvailable()  # wave0 drained before wave1 exists
        write_wave(1)
        q.processAllAvailable()
        q.stop()
        got = {
            (r["shard"], r["doc_id"]): (r["pack_id"], r["pack_offset"])
            for r in spark.sql("SELECT * FROM spack2").collect()
        }
        # pure-python replay of the batch recurrence over ALL docs
        from aprs2influxdb_spark.functions.hashing import portable_hash64  # noqa: F401
        import hashlib

        def h64(s):
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        docs = sorted(mk(i) for i in range(0, 120))
        by_shard: dict = {}
        for i, text in docs:
            by_shard.setdefault(h64(f"pack_{i}") % n_shards, []).append(
                (i, min(len(text.split(" ")), _PACK_L))
            )
        expect = {}
        for shard, rs in by_shard.items():
            pack, used = 0, 0
            for i, ln in sorted(rs):
                if used + ln > _PACK_L:
                    pack += 1
                    used = 0
                expect[(shard, i)] = (pack, used)
                used += ln
        assert got == expect and len(got) == 120

class TestRidgeQualityModel:
    def test_matches_numpy_normal_equation_solve(self, spark, sf_dir):
        """Independent check: solve (S + λI)β = rhs with numpy LU over
        the same exact integer sufficient statistics — the Cramer
        expressions must agree to float noise."""
        import duckdb
        import numpy as np

        from aprs2influxdb_spark.queries import registry

        got = registry()["ridge_quality_model"][0](spark, sf_dir).collect()[0]
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
        )
        # re-derive the exact sums with DuckDB, then solve densely
        n, s1, s2, s11, s12, s22, sy, s1y, s2y = con.execute(
            """
            WITH per_doc AS (
              SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS x1,
                     CAST(floor(length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) * 10000 / length(text)) AS BIGINT) AS x2,
                     CAST(floor((least(len(string_split(lower(text), ' ')) / 50.0, 1.0) * 0.4
                       + (1.0 - least(length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) * 4.0 / length(text), 1.0)) * 0.3
                       + least(len(list_filter(string_split(lower(text), ' '), t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], t))) * 5.0 / len(string_split(lower(text), ' ')), 1.0) * 0.3) * 10000 + 0.5) AS BIGINT) AS y
              FROM documents
            )
            SELECT count(*), sum(x1), sum(x2), sum(x1*x1), sum(x1*x2), sum(x2*x2),
                   sum(y), sum(x1*y), sum(x2*y)
            FROM per_doc
            """
        ).fetchone()
        S = np.array(
            [[n + 1.0, s1, s2], [s1, s11 + 1.0, s12], [s2, s12, s22 + 1.0]], dtype=float
        )
        beta = np.linalg.solve(S, np.array([sy, s1y, s2y], dtype=float))
        assert got["n_docs"] == n
        for k, expect in zip(("b0", "b1", "b2"), beta):
            assert abs(got[k] - expect) < 1e-4 * max(1.0, abs(expect)), (k, got[k], expect)


class TestShardAssignment:
    def test_positions_dense_and_complete(self, spark, sf_dir):
        from aprs2influxdb_spark.queries import registry

        rows = registry()["shard_assignment"][0](spark, sf_dir).collect()
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        assert len(rows) == docs
        by_shard: dict = {}
        for r in rows:
            assert 0 <= r["shard_out"] < 64
            by_shard.setdefault(r["shard_out"], []).append(r["pos"])
        for shard, poss in by_shard.items():
            assert sorted(poss) == list(range(len(poss))), shard


class TestModelAuc:
    def test_matches_pairwise_auc_reference(self, spark, sf_dir):
        """Independent check: AUC by the O(n²) pairwise definition
        (ties count half) over the scored docs — the rank-sum
        formulation must agree exactly."""
        from aprs2influxdb_spark.queries import (
            _AUC_SCORE,
            _ridge_features,
            q_ridge_quality_model,
            registry,
        )

        got = registry()["model_auc"][0](spark, sf_dir).collect()[0]
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        per = _ridge_features(docs).select(
            "x1",
            "x2",
            F.when(F.col("q_int") >= 6000, F.lit(1)).otherwise(F.lit(0)).alias("y"),
        )
        model = q_ridge_quality_model(spark, sf_dir).select("b0", "b1", "b2")
        rows = per.crossJoin(F.broadcast(model)).select(
            F.expr(_AUC_SCORE).alias("s"), "y"
        ).collect()
        pos = sorted(r["s"] for r in rows if r["y"] == 1)
        neg = sorted(r["s"] for r in rows if r["y"] == 0)
        import bisect

        wins = halves = 0
        for s in pos:
            lo = bisect.bisect_left(neg, s)
            hi = bisect.bisect_right(neg, s)
            wins += lo
            halves += hi - lo
        expect = (wins + 0.5 * halves) / (len(pos) * len(neg))
        assert got["n_pos"] == len(pos) and got["n_neg"] == len(neg)
        assert abs(got["auc"] - expect) < 5e-7, (got["auc"], expect)
        assert 0.5 < got["auc"] <= 1.0  # the model must actually rank



class TestTokenBudgetSelect:
    def test_budget_respected_and_maximal(self, spark, sf_dir):
        """Kept tokens never exceed the 60% budget; the selection is
        maximal under the (quality desc, doc_id asc) order — the next
        doc in that order would overflow; and no kept doc ranks below
        an excluded one."""
        from aprs2influxdb_spark.queries import _quality_int_col, registry

        kept = registry()["token_budget_select"][0](spark, sf_dir).collect()
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id",
            _quality_int_col().alias("q"),
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        ).collect()
        total = sum(r["n_tokens"] for r in docs)
        budget = total * 6 // 10
        kept_ids = {r["doc_id"] for r in kept}
        used = sum(r["n_tokens"] for r in kept)
        assert used <= budget
        order = sorted(docs, key=lambda r: (-r["q"], r["doc_id"]))
        run = 0
        for r in order:
            fits = run + r["n_tokens"] <= budget
            if r["doc_id"] in kept_ids:
                assert fits, r
                run += r["n_tokens"]
            else:
                # the greedy prefix stops exactly here
                assert not fits, r
                break
        assert used == run
