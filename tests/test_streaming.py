"""Streaming monitor test: store a corpus's prints, stream modified
duplicates through the monitor, expect matches against their originals
(reference protocol: Monitor.java + Deduplication.java:98-108)."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from panako_spark.data.synth import generate_corpus, rows_to_pandas
from panako_spark.io.checkpoint import CheckpointStore
from panako_spark.operators.store_ops import store_incremental
from panako_spark.stages.extract import run_extract, split_prints
from panako_spark.streaming.monitor import start_monitor


def _stored(spark, rows, cfg, tmp_path) -> CheckpointStore:
    """A store holding `rows`' prints and signatures under `cfg`."""
    store = CheckpointStore(str(tmp_path / "store"))
    store_incremental(spark, spark.createDataFrame(rows_to_pandas(rows)),
                      store, cfg)
    return store


def test_streaming_monitor_finds_dups(spark, cfg, tmp_path):
    rows, _ = generate_corpus(12, dup_fraction=0.5, seed=99)
    base = [r for r in rows if "_dup" not in r.image_id]
    dups = [r for r in rows if "_dup" in r.image_id]
    assert base and dups

    # store phase: index the base images' prints
    store = _stored(spark, base, cfg, tmp_path)

    # stream phase: drop dup images into the watched dir as parquet files
    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    pdf = rows_to_pandas(dups)
    for i in range(0, len(pdf), 4):
        pq.write_table(pa.Table.from_pandas(pdf.iloc[i:i + 4]),
                       str(in_dir / f"f{i}.parquet"))

    out_dir = str(tmp_path / "matches")
    q = start_monitor(spark, str(in_dir), store, out_dir,
                      str(tmp_path / "stream_ckpt"), cfg,
                      available_now=True)
    if not q.awaitTermination(240):
        q.stop()
        pytest.fail("file monitor did not drain its input within 240 s")

    matches = spark.read.parquet(out_dir)
    got = {(r["query_id"], r["ref_id"]) for r in matches.collect()}
    # at least one streamed duplicate matches its original (landmark
    # channel only in monitor mode; reencode dups always hit)
    own = {(d, d.split("_dup")[0]) for d, _ in
           ((r.image_id, None) for r in dups)}
    assert got & own, f"no self-original matches in {sorted(got)[:5]}"
    # every reported match pairs a dup with a stored base id
    for qid, rid in got:
        assert "_dup" in qid and "_dup" not in rid


def test_live_monitor_rate_source(spark, cfg, tmp_path):
    """S3 live-device analog: an unbounded rate-micro-batch stream (no
    files, exists only while the query runs) synthesizes frames that
    were previously stored; every live frame must re-match its original
    (exact content -> the landmark channel always verifies)."""
    from panako_spark.data.synth import rows_for_base_index
    from panako_spark.streaming.monitor import start_live_monitor

    cycle, seed = 6, 777
    stored_rows = [rows_for_base_index(i, 0, seed)[0] for i in range(cycle)]
    store = _stored(spark, stored_rows, cfg, tmp_path)

    out_dir = str(tmp_path / "live_matches")
    q = start_live_monitor(spark, store, out_dir,
                           str(tmp_path / "live_ckpt"), cfg,
                           rows_per_batch=cycle, cycle=cycle, seed=seed)
    import time as _t
    got = set()
    try:
        deadline = _t.monotonic() + 240
        while _t.monotonic() < deadline:
            try:
                rows = spark.read.parquet(out_dir).collect()
            except Exception:
                rows = []
            got = {(r["query_id"], r["ref_id"]) for r in rows}
            if len({q_ for q_, _ in got}) >= cycle:
                break
            _t.sleep(2)
    finally:
        q.stop()

    # every stored base id was re-found by at least one live frame of it
    matched_refs = {r for qid, r in got if qid.split("_", 1)[1] == r}
    assert matched_refs == {r.image_id for r in stored_rows}, (
        f"live monitor missed originals: {sorted(got)[:8]}")


def test_socket_monitor_receives_and_matches(spark, cfg, tmp_path):
    """S3 over a REAL network receiver: a TCP peer pushes wire-encoded
    frames (tab/base64 framing) into the socket source; the monitor
    decodes them JVM-side and every well-formed frame re-matches its
    stored original. A malformed line and a corrupt-payload frame ride
    along: the first is dropped by parse_wire's shape gate, the second
    flows to the extract err-quarantine — neither kills the stream."""
    import socket
    import threading
    import time as _t

    from panako_spark.streaming.monitor import (
        frame_to_wire, start_socket_monitor,
    )

    rows, _ = generate_corpus(8, dup_fraction=0.5, seed=41)
    base = [r for r in rows if "_dup" not in r.image_id]
    dups = [r for r in rows if "_dup" in r.image_id]
    assert base and dups

    store = _stored(spark, base, cfg, tmp_path)

    wire = [frame_to_wire(d.image_id, d.bytes, d.w, d.h, d.fmt,
                          d.caption, d.phash) for d in dups]
    wire.insert(0, "garbage line with\ttoo few fields")
    wire.insert(1, frame_to_wire("corrupt0", b"\x00not-an-image", 64, 64,
                                 "png", "x", 0))

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    stop_feed = threading.Event()

    def feed():
        conn, _addr = srv.accept()
        with conn:
            conn.sendall(("\n".join(wire) + "\n").encode("ascii"))
            # keep the connection open until the assertions are done —
            # the socket source treats EOF as stream end
            stop_feed.wait(240)

    t = threading.Thread(target=feed, daemon=True)
    t.start()

    out_dir = str(tmp_path / "sock_matches")
    q = start_socket_monitor(spark, "127.0.0.1", port, store,
                             out_dir, str(tmp_path / "sock_ckpt"), cfg)
    got = set()
    try:
        deadline = _t.monotonic() + 240
        # monitor mode is the landmark channel only (no tile rescue),
        # so crop dups are best-effort there — the guaranteed set is
        # the non-crop dups, same standard as the file-monitor test
        want = {d.image_id for d in dups if "_crop" not in d.image_id}
        assert want
        while _t.monotonic() < deadline:
            try:
                rows_out = spark.read.parquet(out_dir).collect()
            except Exception:
                rows_out = []
            got = {(r["query_id"], r["ref_id"]) for r in rows_out}
            if {qid for qid, _ in got} >= want:
                break
            _t.sleep(2)
    finally:
        stop_feed.set()
        q.stop()
        srv.close()

    # every non-crop streamed dup matched its original via the receiver
    self_pairs = {(qid, rid) for qid, rid in got
                  if qid.split("_dup")[0] == rid}
    assert {qid for qid, _ in self_pairs} >= want, (
        f"socket monitor missed dups: {sorted(got)[:8]}")
    # the corrupt frame was quarantined, not matched and not fatal
    assert all(qid != "corrupt0" for qid, _ in got)


def test_monitors_refuse_config_drift(spark, cfg, tmp_path):
    """A store extracted under `cfg` is refused by every monitor started
    under another extractor config (log_freq toggled: every landmark hash
    moves, so no query could ever match), before any stream starts."""
    from panako_spark.streaming.monitor import (
        start_live_monitor, start_socket_monitor,
    )

    rows, _ = generate_corpus(2, dup_fraction=0.0, seed=5)
    store = _stored(spark, rows, cfg, tmp_path)
    drifted = cfg.with_(log_freq=not cfg.log_freq)
    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    out_dir, ckpt = str(tmp_path / "matches"), str(tmp_path / "ckpt")
    starts = {
        "file": lambda: start_monitor(spark, str(in_dir), store, out_dir,
                                      ckpt, drifted),
        "live": lambda: start_live_monitor(spark, store, out_dir, ckpt,
                                           drifted),
        "socket": lambda: start_socket_monitor(spark, "127.0.0.1", 9,
                                               store, out_dir, ckpt,
                                               drifted),
    }
    active = len(spark.streams.active)
    for name, start in starts.items():
        with pytest.raises(ValueError, match="re-extract"):
            start()
        assert len(spark.streams.active) == active, name
        assert not os.path.exists(ckpt), name


def test_frame_to_wire_rejects_framing_chars():
    """image_id and fmt ride the wire raw: a tab or line break in either
    would shift the field count and parse_wire would silently drop the
    frame, so the sender refuses it."""
    from panako_spark.streaming.monitor import frame_to_wire

    line = frame_to_wire("img1", b"\x01\x02", 4, 3, "png", "a\tb\nc", 7)
    assert line.split("\t")[:4] == ["img1", "png", "4", "3"]
    assert len(line.split("\t")) == 7 and "\n" not in line
    for bad in ("a\tb", "a\nb", "a\rb"):
        with pytest.raises(ValueError, match="image_id"):
            frame_to_wire(bad, b"x", 1, 1, "png", "", 0)
        with pytest.raises(ValueError, match="fmt"):
            frame_to_wire("ok", b"x", 1, 1, bad, "", 0)


def test_parse_wire_accepts_crlf_lines(spark):
    """A CRLF-terminated peer leaves a trailing \\r on each line; the
    last field (phash) must still parse instead of decoding to null."""
    from panako_spark.streaming.monitor import frame_to_wire, parse_wire

    lf = frame_to_wire("lf", b"\x00\x01", 2, 2, "png", "cap one", 12345)
    crlf = frame_to_wire("crlf", b"\x02", 1, 1, "raw", "cap two", -9) + "\r"
    got = {r["image_id"]: r for r in parse_wire(
        spark.createDataFrame([(lf,), (crlf,)], "value string")).collect()}
    assert set(got) == {"lf", "crlf"}
    assert got["lf"]["phash"] == 12345
    assert got["crlf"]["phash"] == -9
    assert got["crlf"]["caption"] == "cap two"
    assert bytes(got["crlf"]["bytes"]) == b"\x02"
    assert (got["crlf"]["w"], got["crlf"]["h"]) == (1, 1)


def test_probe_batch_matches_golden_queries(spark, cfg):
    """The monitor is query -> store only: probe_batch's matches equal
    GoldenMatcher.query_prints(avoid={self}) for every query, score and
    factors included. The corpus (seed 4) holds two pairs that verify
    only with the stored image as the query side, so a kernel that
    tries both orientations reports matches the golden query rejects."""
    from panako_spark.kernels.codec import to_gray
    from panako_spark.kernels.landmarks import extract_prints_flagged
    from panako_spark.kernels.matcher import GoldenMatcher
    from panako_spark.streaming.monitor import probe_batch

    qcfg = cfg.with_(hash_max_images=0)  # the monitor has no stop-words
    rows, _ = generate_corpus(4, dup_fraction=0.5, seed=4)
    gm = GoldenMatcher(qcfg)
    prints = {}
    for r in rows:
        prints[r.image_id] = extract_prints_flagged(to_gray(r.pixels),
                                                    qcfg)[:3]
        gm.store_prints(r.image_id, *prints[r.image_id])
    want = {(qid, rid, m.score, m.time_factor, m.freq_factor)
            for qid, p in prints.items()
            for rid, m in gm.query_prints(*p, avoid={qid}).items()}
    assert want

    images = spark.createDataFrame(rows_to_pandas(rows))
    stored = split_prints(run_extract(images, qcfg))
    got = {(r["query_id"], r["ref_id"], r["score"], r["time_factor"],
            r["freq_factor"])
           for r in probe_batch(images, stored, qcfg).collect()}
    assert got == want
