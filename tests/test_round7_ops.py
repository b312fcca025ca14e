"""Round-7 operators: MJPEG-in-MP4 real frame payloads (verdict-r6
item 2) and friends.

Reference parity note: the reference (aprs2influxdb) has no media or
analytics path (README.md:4); these extend the engine's multimodal /
pipeline surface.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from aprs2influxdb_spark.functions.jpeg import (
    decode_jpeg_gray,
    encode_jpeg_gray,
    encode_jpeg_progressive_gray,
)
from aprs2influxdb_spark.functions.mp4 import (
    encode_mp4_mjpeg,
    encode_mp4_skeleton,
    parse_mp4,
    read_sample,
)


def _mk_frames(n: int, seed: int = 0) -> tuple[list[bytes], list[bytes]]:
    """n random-ish 16×16 grayscale frames: (jpeg blobs, source pixels).
    Frames alternate baseline and progressive encodings."""
    rng = np.random.default_rng(seed)
    blobs, srcs = [], []
    for k in range(n):
        img = rng.integers(0, 256, (16, 16), dtype=np.uint8)
        srcs.append(img.tobytes())
        enc = encode_jpeg_gray if k % 2 == 0 else encode_jpeg_progressive_gray
        blobs.append(enc(img.tobytes(), 16, 16))
    return blobs, srcs


def test_mjpeg_sample_table_roundtrip_single_chunk():
    blobs, _srcs = _mk_frames(4, seed=1)
    mp4 = encode_mp4_mjpeg(blobs, 16, 16, frame_delta=40)
    m = parse_mp4(mp4)
    assert m["duration_ms"] == 4 * 40
    assert (m["width"], m["height"]) == (16, 16)
    assert [s[2] for s in m["samples"]] == [0, 40, 80, 120]
    assert [s[1] for s in m["samples"]] == [len(b) for b in blobs]
    # offsets are absolute and contiguous inside mdat
    offs = [s[0] for s in m["samples"]]
    assert offs == sorted(offs)
    for s, blob in zip(m["samples"], blobs):
        assert read_sample(mp4, s) == blob


def test_mjpeg_frames_decode_exactly_baseline_and_progressive():
    """The end-to-end 'decode frame k of video v' path: unit-quant
    random frames (NOT block-constant — the full AC machinery) slice
    out of mdat by the sample table and decode IDENTICALLY to
    decoding the original blob directly (container slicing is exact
    to the byte) for both SOF0 and SOF2 frames; vs the source pixels
    the unit-quant roundtrip stays within the documented ±1 IDCT
    round-off (the `near_lossless` contract of the codec tests)."""
    blobs, srcs = _mk_frames(6, seed=2)
    mp4 = encode_mp4_mjpeg(blobs, 16, 16)
    m = parse_mp4(mp4)
    for k, s in enumerate(m["samples"]):
        w, h, px = decode_jpeg_gray(read_sample(mp4, s))
        assert (w, h) == (16, 16), f"frame {k}"
        assert px == decode_jpeg_gray(blobs[k])[2], f"frame {k} slice"
        diff = np.abs(
            np.frombuffer(px, np.uint8).astype(int)
            - np.frombuffer(srcs[k], np.uint8).astype(int)
        )
        assert diff.max() <= 1, f"frame {k} vs source"


def test_mjpeg_multi_chunk_stsc_expansion():
    """frames_per_chunk < n produces several stco chunks and, when the
    final chunk is short, a second stsc run — the general expansion
    (first_chunk ranges → samples per chunk) must place every sample."""
    blobs, _srcs = _mk_frames(7, seed=3)
    for fpc in (1, 2, 3, 4):
        mp4 = encode_mp4_mjpeg(blobs, 16, 16, frame_delta=25, frames_per_chunk=fpc)
        m = parse_mp4(mp4)
        assert len(m["samples"]) == 7
        for k, s in enumerate(m["samples"]):
            assert read_sample(mp4, s) == blobs[k], (fpc, k)
            assert s[2] == k * 25


def test_mp4_forged_counts_dead_letter_not_oom():
    """Review r7: stts/stsz/stsc counts are attacker-controlled 32-bit
    ints; a tiny file declaring 2^32 samples must raise the MP4:
    ValueError BEFORE any list expansion, never MemoryError."""
    blobs, _ = _mk_frames(2, seed=9)
    good = encode_mp4_mjpeg(blobs, 16, 16)

    for tag, off in ((b"stts", 12), (b"stsz", 16), (b"stco", 12)):
        bad = bytearray(good)
        struct.pack_into(">I", bad, bad.index(tag) + off, 0xFFFFFFFF)
        with pytest.raises(ValueError, match="MP4"):
            parse_mp4(bytes(bad))
    # stsz fixed-size mode: fixed != 0 with a forged count
    bad = bytearray(good)
    i = bad.index(b"stsz")
    struct.pack_into(">II", bad, i + 8, 100, 0xFFFFFFFF)
    with pytest.raises(ValueError, match="MP4"):
        parse_mp4(bytes(bad))
    # stsc samples-per-chunk forged huge
    bad = bytearray(good)
    i = bad.index(b"stsc")
    struct.pack_into(">I", bad, i + 16, 0xFFFFFFFF)
    with pytest.raises(ValueError, match="MP4"):
        parse_mp4(bytes(bad))


def test_mp4_sibling_fullbox_after_trak_not_attributed():
    """Review r7: a moov-level mdhd AFTER the trak must not overwrite
    the closed trak's timescale (it would silently rescale every
    sample timestamp)."""
    blobs, _ = _mk_frames(2, seed=10)
    good = encode_mp4_mjpeg(blobs, 16, 16, frame_delta=40)
    # splice a stray mdhd (timescale=90000) as a moov-level sibling
    # after the trak: rebuild moov = mvhd + trak + stray
    stray = struct.pack(">I", 8 + 24) + b"mdhd" + struct.pack(
        ">B3xIIIIH2x", 0, 0, 0, 90000, 1, 0x55C4
    )
    i = good.index(b"moov")
    moov_start = i - 4
    (moov_size,) = struct.unpack(">I", good[moov_start : moov_start + 4])
    rebuilt = (
        good[:moov_start]
        + struct.pack(">I", moov_size + len(stray))
        + good[moov_start + 4 : moov_start + moov_size]
        + stray
        + good[moov_start + moov_size :]
    )
    m = parse_mp4(rebuilt)
    assert [s[2] for s in m["samples"]] == [0, 40]  # not rescaled by 90000


def test_jpeg_giant_sof_dead_letters_not_oom():
    """Review r7: a ~30-byte SOF2/SOF0 declaring 65535x65535 must
    raise the JPEG: ValueError before allocating the coefficient
    store / planes."""
    import struct as _struct

    for sof in (0xFFC0, 0xFFC2):
        blob = (
            b"\xff\xd8"
            + _struct.pack(">HH", 0xFFDB, 2 + 65) + b"\x00" + bytes([1] * 64)
            + _struct.pack(">HH", sof, 2 + 9)
            + _struct.pack(">BHHB", 8, 65535, 65535, 1) + bytes([1, 0x11, 0])
            + b"\xff\xd9"
        )
        with pytest.raises(ValueError, match="frame too large"):
            decode_jpeg_gray(blob)


def test_mjpeg_malformed_sample_tables_dead_letter():
    blobs, _ = _mk_frames(3, seed=4)
    good = encode_mp4_mjpeg(blobs, 16, 16)

    # a sample size pointing past EOF
    bad = bytearray(good)
    i = bad.index(b"stsz")
    struct.pack_into(">I", bad, i + 16, 10**7)
    with pytest.raises(ValueError, match="MP4"):
        parse_mp4(bytes(bad))

    # stsc runs that do not cover the chunks
    mp4 = bytearray(encode_mp4_mjpeg(blobs, 16, 16, frames_per_chunk=1))
    i = mp4.index(b"stsc")
    # entry count is at tag+8 (after version/flags); force a bogus
    # first_chunk so the run expansion cannot cover all 3 chunks
    struct.pack_into(">I", mp4, i + 12, 7)  # first run starts at chunk 7
    with pytest.raises(ValueError, match="MP4"):
        parse_mp4(bytes(mp4))

    with pytest.raises(ValueError, match="at least one frame"):
        encode_mp4_mjpeg([], 16, 16)


class TestHoltWintersSegmented:
    """Round 7, verdict-r6 item 6: the seasonal member of the
    segmented-fold family closes the q_holt_winters hot-key hole
    in-plan (no more ~240 MB collect_list rows on 10⁷-event keys)."""

    def test_matches_whole_series_final_state(self, spark, sf_dir):
        """The segmented per-event emission's LAST row per key must
        agree with q_holt_winters' whole-series final (level, trend)
        after the shared 6-dp rounding — the ~1e-12 carry-composition
        divergence never reaches the 6th decimal on the gate corpus."""
        import pyspark.sql.functions as F
        from pyspark.sql import Window

        from aprs2influxdb_spark.queries import registry

        reg = registry()
        whole = reg["holt_winters"][0](spark, sf_dir).select(
            "user_id", F.col("level").alias("l1"), F.col("trend").alias("t1")
        )
        segd = reg["holt_winters_segmented"][0](spark, sf_dir)
        w = Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
        last = (
            segd.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .select("user_id", F.col("level").alias("l2"), F.col("trend").alias("t2"))
        )
        j = whole.join(last, "user_id").agg(
            F.count("*").alias("n"),
            F.sum(
                ((F.col("l1") != F.col("l2")) | (F.col("t1") != F.col("t2"))).cast("int")
            ).alias("ndiff"),
        ).collect()[0]
        assert j["n"] > 0 and j["ndiff"] == 0

    def test_hot_key_1e6_vs_python_replica(self, spark):
        """1M-event single key through the segmented Holt-Winters
        path (L=504, 21 seasons/segment), every output pinned against
        a pure-Python replica of the same decomposition: zero-seeded
        per-segment folds, the SAME literal carry matrix
        (_hw_carry_matrix — shared generation, not re-derivation),
        flat left-to-right matrix·vector chains, per-segment replay.
        No 240 MB row exists anywhere in the plan: the widest state is
        O(L·24) floats.

        Runs at STABLE parameters (α=0.3, β=0.05, γ=0.1): the
        registry defaults sit outside the additive-HW stability
        region, so on 10⁶ events the statistic itself overflows in
        ANY engine (discovered building this test; documented in both
        docstrings) — the plan-memory claim needs a finite series."""
        import math

        import pyspark.sql.functions as F

        from aprs2influxdb_spark.queries import (
            HW_SEASON,
            _hw_carry_matrix,
            holt_winters_segmented,
        )

        n, L = 1_000_000, 504
        a_, bta, g_, m = 0.3, 0.05, 0.1, HW_SEASON
        df = spark.range(n).select(
            F.lit(3).cast("long").alias("user_id"),
            F.col("id").alias("event_id"),
            F.timestamp_seconds(F.col("id")).alias("ts"),
            (((F.col("id") * 2654435761) % 1000) / F.lit(7.0)).alias("value"),
        )
        got = (
            holt_winters_segmented(df, L=L, alpha=a_, beta=bta, gamma=g_)
            .orderBy("event_id")
            .toPandas()
        )
        assert len(got) == n

        xs = [((i * 2654435761) % 1000) / 7.0 for i in range(n)]
        segs = [xs[i : i + L] for i in range(0, n, L)]
        A = _hw_carry_matrix(L, a_, bta, g_)

        def step(l, b, sz, t, x):
            # t is the pre-step counter (Spark acc.t); slot (t % 24)+1
            q = t % m
            sv = sz[q]
            ln = a_ * (x - sv) + (1 - a_) * (l + b)
            bn = bta * (ln - l) + (1 - bta) * b
            sz2 = sz[:]
            sz2[q] = g_ * (x - ln) + (1 - g_) * sv
            return ln, bn, sz2, t + 1

        def matvec(v, d):
            out = []
            for i in range(m + 2):
                acc = A[i][0] * v[0] + A[i][1] * v[1]
                for j in range(m):
                    acc = acc + A[i][j + 2] * v[2 + j]
                out.append(acc + d[i])
            return out

        # phase 1: summaries
        dsum = []
        for si, s in enumerate(segs):
            if si == 0:
                l, b, sz, t = s[0], 0.0, [0.0] * m, 1
                for x in s[1:]:
                    l, b, sz, t = step(l, b, sz, t, x)
            else:
                l, b, sz, t = 0.0, 0.0, [0.0] * m, 0
                for x in s:
                    l, b, sz, t = step(l, b, sz, t, x)
            dsum.append([l, b] + sz)
        # phase 2: carries (out-state per segment)
        carries = [dsum[0]]
        for si in range(1, len(segs)):
            carries.append(matvec(carries[-1], dsum[si]))
        # phase 4: replay
        exp_l, exp_b = [], []
        for si, s in enumerate(segs):
            if si == 0:
                l, b, sz, t = s[0], 0.0, [0.0] * m, 1
                exp_l.append(l)
                exp_b.append(b)
                rest = s[1:]
            else:
                v = carries[si - 1]
                l, b, sz, t = v[0], v[1], v[2:], 0
                rest = s
            for x in rest:
                l, b, sz, t = step(l, b, sz, t, x)
                exp_l.append(l)
                exp_b.append(b)
        r6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6
        assert np.array_equal(
            got["level"].to_numpy(), np.array([r6(v) for v in exp_l])
        )
        assert np.array_equal(
            got["trend"].to_numpy(), np.array([r6(v) for v in exp_b])
        )

    def test_close_to_true_recurrence(self, spark):
        """The decomposition is float-reordered but must track the
        TRUE whole-series recurrence to ~1e-9 relative on a 10k-event
        key (contractive dynamics damp carry round-off)."""
        import pyspark.sql.functions as F

        from aprs2influxdb_spark.queries import HW_SEASON, holt_winters_segmented

        n, L = 10_000, 48
        a_, bta, g_, m = 0.3, 0.05, 0.1, HW_SEASON
        df = spark.range(n).select(
            F.lit(1).cast("long").alias("user_id"),
            F.col("id").alias("event_id"),
            F.timestamp_seconds(F.col("id")).alias("ts"),
            (((F.col("id") * 48271) % 997) / F.lit(3.0)).alias("value"),
        )
        got = (
            holt_winters_segmented(df, L=L, alpha=a_, beta=bta, gamma=g_)
            .orderBy("event_id")
            .toPandas()
        )
        xs = [((i * 48271) % 997) / 3.0 for i in range(n)]
        l, b, sz = xs[0], 0.0, [0.0] * m
        exp = [(l, b)]
        for t0, x in enumerate(xs[1:], start=1):
            q = t0 % m
            sv = sz[q]
            ln = a_ * (x - sv) + (1 - a_) * (l + b)
            bn = bta * (ln - l) + (1 - bta) * b
            sz[q] = g_ * (x - ln) + (1 - g_) * sv
            l, b = ln, bn
            exp.append((l, b))
        lv = got["level"].to_numpy()
        tv = got["trend"].to_numpy()
        el = np.array([e[0] for e in exp])
        eb = np.array([e[1] for e in exp])
        # outputs are rhu(·, 6)-rounded: budget the half-ulp of the 6th
        # decimal plus the scaled carry-composition round-off
        tol_l = 5.0e-7 + 1e-9 * (1 + np.abs(el).max())
        tol_b = 5.0e-7 + 1e-9 * (1 + np.abs(eb).max())
        assert np.abs(lv - el).max() <= tol_l
        assert np.abs(tv - eb).max() <= tol_b


class TestEpochStatePersistence:
    """Round 7, verdict-r6 item 4 / minor 2: the persist-and-probe
    e2e for incremental_contamination.  The saved state (shingles,
    LSH bands, eval shingle set, (IVF cluster, SRP bucket) semantic
    index, frozen centroids) round-trips through parquet and a
    SEPARATE Spark session, and the probe result row-equals the
    in-plan rebuild."""

    def test_cross_session_persist_and_probe_row_equal(self, spark, sf_dir, tmp_path):
        """Session A (this test) persists the epoch built from the
        gate corpus.  A FRESH session — a subprocess with its own JVM,
        no shared state — loads the parquet tables and rescreens the
        same 1/INC_NEW_MOD batch slice; its rows must equal
        q_incremental_contamination's in-plan rebuild exactly."""
        import subprocess
        import sys
        from pathlib import Path

        from aprs2influxdb_spark.operators.epoch_state import (
            persist_contamination_state,
        )
        from aprs2influxdb_spark.queries import q_incremental_contamination

        repo = str(Path(__file__).resolve().parents[1])
        state = str(tmp_path / "epoch0")
        out = str(tmp_path / "probe_result")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        persist_contamination_state(docs, emb, state)

        probe_script = f"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from aprs2influxdb_spark.session import get_spark
from aprs2influxdb_spark.functions.hashing import portable_hash64
from aprs2influxdb_spark.operators.epoch_state import rescreen_saved
from aprs2influxdb_spark.queries import INC_NEW_MOD

spark = get_spark("epoch-probe", shuffle_partitions=8)
is_new = lambda c: F.pmod(
    portable_hash64(F.concat(F.lit("inc_"), c.cast("string"))), F.lit(INC_NEW_MOD)
) == 0
rescreen_saved(spark, {state!r}, is_new).write.mode("overwrite").parquet({out!r})
spark.stop()
"""
        r = subprocess.run(
            [sys.executable, "-c", probe_script],
            cwd=repo, capture_output=True, text=True, timeout=420,
        )
        assert r.returncode == 0, r.stderr[-3000:]

        got = sorted(
            tuple(row) for row in spark.read.parquet(out).collect()
        )
        want = sorted(
            tuple(row) for row in q_incremental_contamination(spark, sf_dir).collect()
        )
        assert len(want) > 0
        assert got == want

    def test_frozen_epoch_rescreen_flags_planted_batch(self, spark, sf_dir, tmp_path):
        """The production shape: state built WITHOUT the batch; new
        docs arrive later, are banded/assigned against the FROZEN
        epoch (centroids never shift), and probe batch×index ∪
        batch×batch.  A planted copy of a saved doc must flag on the
        lexical, n-gram and semantic channels; a planted gibberish doc
        must stay lexically clean; a batch-internal duplicate pair
        must flag each other without touching the saved corpus."""
        import pyspark.sql.functions as F

        from aprs2influxdb_spark.operators.epoch_state import (
            persist_contamination_state,
            rescreen_new_batch,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        state = str(tmp_path / "epoch1")
        persist_contamination_state(docs, emb, state)

        # pick a non-eval batch id space and a saved doc/vector to copy
        import hashlib

        def eval_bucket(i):
            h = int(hashlib.md5(f"eval_{i}".encode()).hexdigest()[:15], 16)
            return h % 20

        base = 100_000
        ids = [i for i in range(base, base + 50) if eval_bucket(i) != 0][:3]
        src = docs.orderBy("doc_id").limit(1).collect()[0]
        src_vec = emb.orderBy("vec_id").limit(1).collect()[0]
        gibberish = "zxqv wqje plmn vbnd qwer asdf zxcv tyui ghjk bnml " * 4
        new_docs = spark.createDataFrame(
            [
                (ids[0], src["text"]),        # copy of a saved doc
                (ids[1], gibberish),          # novel
                (ids[2], gibberish),          # batch-internal dup of ids[1]
            ],
            "doc_id long, text string",
        )
        new_emb = spark.createDataFrame(
            [
                (ids[0], list(src_vec["embedding"])),  # copy of a saved vector
                (ids[1], [float((i * 37 + 11) % 13 - 6) for i in range(64)]),
                (ids[2], [float((i * 37 + 11) % 13 - 6) for i in range(64)]),
            ],
            "vec_id long, embedding array<float>",
        )
        got = {
            r["doc_id"]: r
            for r in rescreen_new_batch(spark, state, new_docs, new_emb).collect()
        }
        assert set(got) == set(ids)
        # the copy collides with the saved corpus on every channel
        assert got[ids[0]]["lex_dup"] == 1
        assert got[ids[0]]["sem_dup"] == 1
        assert got[ids[0]]["flagged"] == 1
        # batch-internal duplicates flag each other (batch×batch leg)
        assert got[ids[1]]["lex_dup"] == 1 and got[ids[2]]["lex_dup"] == 1
        # and the saved index was never rebuilt: state predates the batch
        saved = spark.read.parquet(f"{state}/shingles")
        assert saved.filter(F.col("doc_id").isin(ids)).count() == 0

        # review r7: a batch id colliding with the saved epoch must be
        # rejected (the pair filter would silently suppress the
        # batch-vs-saved comparison for that id)
        colliding = spark.createDataFrame(
            [(int(src["doc_id"]), "some text")], "doc_id long, text string"
        )
        cemb = spark.createDataFrame(
            [(ids[0] + 1000, [0.0] * 64)], "vec_id long, embedding array<float>"
        )
        with pytest.raises(ValueError, match="collide with the saved epoch"):
            rescreen_new_batch(spark, state, colliding, cemb).collect()


def test_av_mux_two_track_interleaved_roundtrip():
    """Round 7, past the MJPEG item: a two-track MP4 interleaving JPEG
    video frames with PCM16 audio chunks, each track behind its own
    sample table.  Frames decode byte-identically to direct decode;
    audio chunks decode sample-exactly; both tables carry the
    interleave's timestamps; back-compat: single-track containers
    report audio_chunks=None."""
    from aprs2influxdb_spark.functions.mp4 import (
        encode_mp4_av,
        read_audio_chunk,
    )

    blobs, _srcs = _mk_frames(3, seed=21)
    pcm = [((i * 13 + 5) % 2048) - 1024 for i in range(3 * 320)]
    blob = encode_mp4_av(blobs, pcm, 16, 16, sample_rate=8000, frame_delta=40)
    m = parse_mp4(blob)
    assert m["handlers"] == ["vide", "soun"]
    assert m["audio_rate"] == 8000 and m["duration_ms"] == 120
    assert [s[2] for s in m["samples"]] == [0, 40, 80]
    assert [c[2] for c in m["audio_chunks"]] == [0, 40, 80]
    got = []
    for k, (s, c) in enumerate(zip(m["samples"], m["audio_chunks"])):
        assert read_sample(blob, s) == blobs[k]
        got.extend(read_audio_chunk(blob, c))
        # interleave: each audio chunk sits directly after its frame
        assert c[0] == s[0] + s[1]
    assert got == pcm

    single = encode_mp4_mjpeg(blobs, 16, 16)
    assert parse_mp4(single)["audio_chunks"] is None

    with pytest.raises(ValueError, match="divide"):
        encode_mp4_av(blobs, pcm[:100], 16, 16)
    with pytest.raises(ValueError, match="int16"):
        encode_mp4_av(blobs, [99999] * 3, 16, 16)

    # forged audio chunk offset past EOF dead-letters
    bad = bytearray(blob)
    i = bad.rindex(b"stco")  # audio track's stco is the later one
    struct.pack_into(">I", bad, i + 12, 10**8)
    with pytest.raises(ValueError, match="MP4"):
        parse_mp4(bytes(bad))

    # review r7 pass 2: a forged fixed-size stsz (odd sample size,
    # under-counted samples) must dead-letter at parse/read, never
    # escape as struct.error or emit phantom zero-size chunks
    bad = bytearray(blob)
    i = bad.rindex(b"stsz")  # audio stsz: fixed(4) at +8, count at +12
    struct.pack_into(">II", bad, i + 8, 3, 213)
    with pytest.raises(ValueError, match="MP4"):
        m2 = parse_mp4(bytes(bad))
        for c in m2["audio_chunks"]:
            read_audio_chunk(bytes(bad), c)

    # sibling validation contract (was struct.error)
    with pytest.raises(ValueError, match="geometry"):
        encode_mp4_av(blobs, pcm, -1, 16)
    with pytest.raises(ValueError, match="sample_rate"):
        encode_mp4_av(blobs, pcm, 16, 16, sample_rate=96000)


class TestWarc:
    """Round 7: WARC/gzip ingest (ISO 28500, multi-member gzip — the
    Common Crawl layout)."""

    def test_roundtrip_and_member_boundaries(self):
        from aprs2influxdb_spark.functions.warc import (
            is_warc_gz,
            parse_warc_gz,
            write_warc_gz,
        )

        recs = [
            ({"WARC-Type": "warcinfo", "WARC-Record-ID": "<urn:uuid:1>"},
             b"software: engine"),
            ({"WARC-Type": "request", "WARC-Target-URI": "http://ex.org/a"},
             b"GET /a HTTP/1.1"),
            ({"WARC-Type": "response", "WARC-Target-URI": "http://ex.org/a"},
             b"hello \r\n\r\n world " * 40),  # payload containing CRLFCRLF
        ]
        blob = write_warc_gz(recs)
        assert is_warc_gz(blob)
        back = parse_warc_gz(blob)
        assert len(back) == 3
        for (h, p), (h2, p2) in zip(recs, back):
            assert p2 == p
            assert all(h2[k] == str(v) for k, v in h.items())
            assert int(h2["Content-Length"]) == len(p)
        # determinism (mtime=0): identical bytes on rewrite
        assert write_warc_gz(recs) == blob

    def test_second_review_fixes(self):
        """Review r7 pass 2: negative Content-Length, multi-record
        members (file-level compression), header-KEY injection,
        caller-supplied Content-Length, and the gzip-bomb decode
        bound."""
        import gzip

        from aprs2influxdb_spark.functions import warc as W

        # negative Content-Length must dead-letter, not slice from
        # the end of the payload
        rec = b"WARC/1.0\r\nWARC-Type: x\r\nContent-Length: -5\r\n\r\nhello\r\n\r\n"
        with pytest.raises(ValueError, match="negative Content-Length"):
            W.parse_warc_gz(gzip.compress(rec, mtime=0))

        # one member carrying TWO records (legal ISO 28500) parses
        # fully — the first cut silently dropped the tail
        one = b"WARC/1.0\r\nWARC-Type: a\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n"
        two = b"WARC/1.0\r\nWARC-Type: b\r\nContent-Length: 3\r\n\r\nbye\r\n\r\n"
        got = W.parse_warc_gz(gzip.compress(one + two, mtime=0))
        assert [(h["WARC-Type"], p) for h, p in got] == [("a", b"hi"), ("b", b"bye")]
        # trailing garbage after the last record still dead-letters
        with pytest.raises(ValueError, match="WARC"):
            W.parse_warc_gz(gzip.compress(one + b"garbage", mtime=0))

        # header-KEY injection / colon corruption / supplied length
        for bad_hdrs in (
            {"WARC-Type": "x", "A\r\nX-Forged": "v"},
            {"WARC-Type": "x", "A:B": "v"},
            {"WARC-Type": "x", "Content-Length": "999"},
        ):
            with pytest.raises(ValueError, match="write_warc_gz"):
                W.write_warc_gz([(bad_hdrs, b"p")])

        # gzip bomb: a member expanding past MAX_MEMBER_BYTES raises
        # the WARC: ValueError, never a giant allocation
        old = W.MAX_MEMBER_BYTES
        W.MAX_MEMBER_BYTES = 1 << 16
        try:
            bomb = gzip.compress(b"\x00" * (1 << 20), mtime=0)
            with pytest.raises(ValueError, match="decode bound"):
                W.parse_warc_gz(bomb)
        finally:
            W.MAX_MEMBER_BYTES = old

    def test_malformed_streams_dead_letter(self):
        import gzip

        from aprs2influxdb_spark.functions.warc import (
            parse_warc_gz,
            write_warc_gz,
        )

        good = write_warc_gz([({"WARC-Type": "response"}, b"x" * 100)])
        with pytest.raises(ValueError, match="not a gzip"):
            parse_warc_gz(b"plain text")
        with pytest.raises(ValueError, match="truncated gzip"):
            parse_warc_gz(good[: len(good) // 2])
        bad = bytearray(good)
        bad[25] ^= 0xFF
        with pytest.raises(ValueError, match="WARC"):
            parse_warc_gz(bytes(bad))
        # a gzip member that isn't a WARC record
        with pytest.raises(ValueError, match="version line"):
            parse_warc_gz(gzip.compress(b"HTTP/1.1 200 OK\r\n\r\n", mtime=0))
        # Content-Length lying long
        rec = b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 999\r\n\r\nshort\r\n\r\n"
        with pytest.raises(ValueError, match="shorter than Content-Length"):
            parse_warc_gz(gzip.compress(rec, mtime=0))
        with pytest.raises(ValueError, match="WARC-Type"):
            write_warc_gz([({}, b"x")])
        with pytest.raises(ValueError, match="malformed header"):
            write_warc_gz([({"WARC-Type": "response", "X": "a\nb"}, b"x")])


def test_html_extractor_contract():
    """Round 7: the stdlib HTML→text extractor — script/style
    subtrees silent, title separate, whitespace-normalized body,
    charref decoding, link count, and tolerance of the broken markup
    real crawls contain."""
    from aprs2influxdb_spark.functions.htmltext import extract_html

    got = extract_html(
        "<html><head><title>T1</title><script>var a = '<p>no</p>';</script>"
        "</head><body>  <h1> Hello </h1>\n<p>a &amp; b</p>"
        "<style>p{}</style><a href='/x'>x</a><a href='/y'>y</a></body></html>"
    )
    assert got["title"] == "T1"
    assert got["text"] == "Hello a & b x y"
    assert got["n_links"] == 2

    # broken markup: unclosed tags, stray </div>, bare text
    got = extract_html("<p>alpha<p>beta</div>gamma")
    assert got["text"] == "alpha beta gamma" and got["n_links"] == 0

    # style closing without opening must not underflow the skip depth
    got = extract_html("</style><p>kept</p>")
    assert got["text"] == "kept"


def test_mp4_skeleton_now_carries_minf_stbl_chain():
    """ADVICE r6: ISO 14496-12 requires minf/stbl children inside
    mdia; the skeleton writer now emits vmhd|smhd + dinf/dref + a
    zero-entry stbl, and the walker reports samples=None for it."""
    b = encode_mp4_skeleton(1000, 64, 48, n_audio_tracks=1)
    for tag in (b"minf", b"stbl", b"dinf", b"dref", b"stsd", b"stts",
                b"stsc", b"stsz", b"stco", b"vmhd", b"smhd"):
        assert tag in b, tag.decode()
    assert parse_mp4(b)["samples"] is None
