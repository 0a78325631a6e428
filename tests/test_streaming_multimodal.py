"""Structured Streaming extraction + multimodal plumbing tests."""
import os

import pytest

pyspark = pytest.importorskip('pyspark')


def test_streaming_extraction_matches_batch(spark, tmp_path):
    from pyxml_spark.pipeline import (TRANSCRIPTS_SCHEMA, extract_turns,
                                      gen_transcripts_pdf)
    from pyxml_spark.pipeline.streaming import run_file_stream

    pdf = gen_transcripts_pdf(200, seed=7)
    inp = os.path.join(tmp_path, 'in')
    out = os.path.join(tmp_path, 'out')
    ckpt = os.path.join(tmp_path, 'ckpt')
    df = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    df.repartition(4).write.parquet(inp)

    run_file_stream(spark, inp, out, ckpt)

    streamed = {(r.conv_id, r.turn_idx): r.main_text
                for r in spark.read.parquet(out).collect()}
    batch = {(r.conv_id, r.turn_idx): r.main_text
             for r in extract_turns(df).collect()}
    assert streamed == batch


def test_stream_kill_and_resume_exactly_once(spark, tmp_path):
    """the streaming checkpoint contract under failure: a file-sink
    stream killed MID-RUN (after >=1 committed micro-batch, before the
    input is drained) and restarted from the same checkpoint produces
    exactly-once output — no lost rows, no duplicated rows, row-identical
    to the batch path. The parquet sink's _spark_metadata transaction log
    is what makes the partially-written run safe: uncommitted files are
    invisible to readers and the restart re-plans from the last committed
    source offset. (Single-batch availableNow drains elsewhere never
    exercise the mid-stream restart; this is the crash/recovery twin of
    the batch resume test.)"""
    import time

    from pyxml_spark.pipeline import (TRANSCRIPTS_SCHEMA, extract_turns,
                                      gen_transcripts_pdf)
    from pyxml_spark.pipeline.streaming import (extract_stream,
                                                read_transcripts_stream,
                                                run_file_stream)

    pdf = gen_transcripts_pdf(1200, seed=11)
    inp = os.path.join(tmp_path, 'in')
    out = os.path.join(tmp_path, 'out')
    ckpt = os.path.join(tmp_path, 'ckpt')
    df = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    df.repartition(24).write.parquet(inp)  # 24 files -> 24 micro-batches

    src = read_transcripts_stream(spark, inp, max_files_per_trigger=1)
    q = (extract_stream(src).writeStream.format('parquet')
         .option('path', out).option('checkpointLocation', ckpt)
         .outputMode('append').trigger(availableNow=True).start())
    # stop as soon as the FIRST micro-batch commits (lastProgress exists
    # only after a completed batch) — 23 batches of headroom keeps the
    # stop-vs-drain race implausible even on an unthrottled box
    deadline = time.time() + 120
    while time.time() < deadline and q.isActive:
        if q.lastProgress is not None:
            break
        time.sleep(0.05)
    q.stop()
    q.awaitTermination()
    partial = spark.read.parquet(out).count()  # respects _spark_metadata
    n_total = len(pdf)
    assert 0 < partial < n_total, partial  # genuinely mid-stream

    # restart from the SAME checkpoint: drains only the remainder
    run_file_stream(spark, inp, out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == n_total
    assert got.select('conv_id', 'turn_idx').distinct().count() == n_total
    streamed = {(r.conv_id, r.turn_idx): r.main_text
                for r in got.collect()}
    batch = {(r.conv_id, r.turn_idx): r.main_text
             for r in extract_turns(df).collect()}
    assert streamed == batch


def test_idempotent_batch_sink_exactly_once(spark, tmp_path):
    """the foreachBatch landing contract for NON-transactional stores:
    (1) a drained stream's batch=N dirs union to exactly the batch
    extraction output; (2) a RE-DELIVERED batch (same batch_id, even
    with different data — the crash-between-sink-and-checkpoint case) is
    skipped by its _COMMITTED marker, leaving files byte-identical;
    (3) a restart from the same checkpoint after new input arrives lands
    ONLY new batch dirs and never touches committed ones."""
    import glob

    from pyspark.sql import functions as F
    from pyxml_spark.pipeline import (TRANSCRIPTS_SCHEMA, extract_turns,
                                      gen_transcripts_pdf)
    from pyxml_spark.pipeline.streaming import (idempotent_batch_writer,
                                                read_committed_batches,
                                                run_idempotent_batch_sink)

    def snap(d):
        return {f: os.path.getmtime(f)
                for f in glob.glob(f'{d}/**/*', recursive=True)}

    pdf = gen_transcripts_pdf(400, seed=13)
    inp = os.path.join(tmp_path, 'in')
    out = os.path.join(tmp_path, 'out')
    ckpt = os.path.join(tmp_path, 'ckpt')
    df = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    df.repartition(8).write.parquet(inp)

    run_idempotent_batch_sink(spark, inp, out, ckpt,
                              max_files_per_trigger=2)  # 4 micro-batches
    batch_dirs = sorted(glob.glob(f'{out}/batch=*'))
    assert len(batch_dirs) >= 2
    assert all(os.path.exists(f'{d}/_COMMITTED') for d in batch_dirs)
    got = {(r.conv_id, r.turn_idx): r.main_text
           for r in read_committed_batches(spark, out).collect()}
    want = {(r.conv_id, r.turn_idx): r.main_text
            for r in extract_turns(df).collect()}
    assert got == want

    # (2) re-deliver batch 0 with DIFFERENT data: marker must skip it
    before = snap(out)
    poison = spark.createDataFrame(gen_transcripts_pdf(50, seed=99),
                                   schema=TRANSCRIPTS_SCHEMA)
    idempotent_batch_writer(out)(poison, 0)
    assert snap(out) == before

    # (2b) a TORN batch dir (crash mid-write: files, no marker) must be
    # invisible to the committed read — this is the crash window the
    # marker protocol exists for
    torn = os.path.join(out, 'batch=999')
    os.makedirs(torn)
    with open(os.path.join(torn, 'part-00000.parquet'), 'wb') as fh:
        fh.write(b'not parquet')
    assert read_committed_batches(spark, out).count() == len(pdf)
    # a store with NOTHING committed raises instead of inventing a schema
    with pytest.raises(FileNotFoundError):
        read_committed_batches(spark, str(tmp_path / 'empty_store'))

    # (3) restart after new input: only new batch dirs appear; the torn
    # dir heals only if the stream re-delivers ITS id (999 never ran, so
    # it stays invisible)
    extra = spark.createDataFrame(gen_transcripts_pdf(100, seed=21),
                                  schema=TRANSCRIPTS_SCHEMA)
    extra_renamed = extra.withColumn(
        'conv_id', F.concat(F.lit('extra-'), F.col('conv_id')))
    extra_renamed.repartition(2).write.mode('append').parquet(inp)
    run_idempotent_batch_sink(spark, inp, out, ckpt,
                              max_files_per_trigger=2)
    after = snap(out)
    assert all(after[k] == v for k, v in before.items())  # untouched
    # count COMMITTED dirs only — the planted torn batch=999 would make
    # a raw glob comparison vacuously true
    committed = [d for d in glob.glob(f'{out}/batch=*')
                 if os.path.exists(f'{d}/_COMMITTED')]
    assert len(committed) > len(batch_dirs)
    assert read_committed_batches(spark, out).count() == len(pdf) + 100


def test_idempotent_marker_published_durably(spark, tmp_path, monkeypatch):
    """the _COMMITTED marker is crash-honest: it is written under a temp
    name, fsynced, and renamed into place by ``os.replace`` — with the
    batch's data fsynced before the rename and the directory after it —
    so no crash can leave a marker over unflushed or half-written data"""
    from pyxml_spark.pipeline import TRANSCRIPTS_SCHEMA, gen_transcripts_pdf
    from pyxml_spark.pipeline.streaming import idempotent_batch_writer

    df = spark.createDataFrame(gen_transcripts_pdf(20, seed=5),
                               schema=TRANSCRIPTS_SCHEMA)
    out = str(tmp_path / 'out')
    calls = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        calls.append(('fsync', os.readlink(f'/proc/self/fd/{fd}')))
        return real_fsync(fd)

    def replace(src, dst):
        calls.append(('replace', src, dst))
        return real_replace(src, dst)

    monkeypatch.setattr(os, 'fsync', fsync)
    monkeypatch.setattr(os, 'replace', replace)
    idempotent_batch_writer(out)(df, 0)
    monkeypatch.undo()

    dest = os.path.join(out, 'batch=0')
    marker = os.path.join(dest, '_COMMITTED')
    replaces = [i for i, c in enumerate(calls) if c[0] == 'replace']
    assert len(replaces) == 1, calls
    (i,) = replaces
    _, tmp, dst = calls[i]
    assert dst == marker and tmp != marker
    before = {c[1] for c in calls[:i]}
    data = {os.path.join(dest, f) for f in os.listdir(dest)
            if f.startswith('part-')}
    assert data and data <= before, (data, before)
    assert tmp in before  # the temp marker itself was flushed
    assert ('fsync', dest) in calls[i + 1:]
    assert os.path.exists(marker) and not os.path.exists(tmp)


def test_fresh_checkpoint_over_committed_output_raises(spark, tmp_path):
    """a fresh checkpoint restarts batch ids at 0; over an output that
    already holds committed batch dirs, every new batch would find a
    marker and be skipped — the sink must raise instead, leaving the
    committed output untouched"""
    import glob

    from pyxml_spark.pipeline import TRANSCRIPTS_SCHEMA, gen_transcripts_pdf
    from pyxml_spark.pipeline.streaming import run_idempotent_batch_sink

    inp = str(tmp_path / 'in')
    out = str(tmp_path / 'out')
    spark.createDataFrame(gen_transcripts_pdf(60, seed=17),
                          schema=TRANSCRIPTS_SCHEMA).write.parquet(inp)
    run_idempotent_batch_sink(spark, inp, out, str(tmp_path / 'ckpt1'))
    before = sorted(glob.glob(f'{out}/**/*', recursive=True))
    assert any(p.endswith('_COMMITTED') for p in before)
    with pytest.raises(FileExistsError, match='fresh'):
        run_idempotent_batch_sink(spark, inp, out, str(tmp_path / 'ckpt2'))
    assert sorted(glob.glob(f'{out}/**/*', recursive=True)) == before
    assert not os.path.exists(tmp_path / 'ckpt2')


def test_streaming_rollup_plan(spark, tmp_path):
    """watermarked windowed agg builds a valid incremental plan"""
    from pyxml_spark.pipeline import TRANSCRIPTS_SCHEMA, gen_transcripts_pdf
    from pyxml_spark.pipeline.streaming import (conversation_rollup_stream,
                                                read_transcripts_stream)
    inp = os.path.join(tmp_path, 'in2')
    spark.createDataFrame(gen_transcripts_pdf(100, seed=3),
                          schema=TRANSCRIPTS_SCHEMA).write.parquet(inp)
    rollup = conversation_rollup_stream(read_transcripts_stream(spark, inp))
    q = (rollup.writeStream.format('memory').queryName('rollup_test')
         .outputMode('append')
         .option('checkpointLocation', os.path.join(tmp_path, 'ckpt2'))
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    q.stop()
    # append mode + watermark: rows emit only when the watermark passes, so
    # the assertion is on plan validity / run success, not row counts
    assert spark.table('rollup_test').columns == ['window', 'conv_id',
                                                  'n_turns', 'chars_in']


def test_media_features(spark):
    from pyxml_spark.pipeline.multimodal import (MEDIA_SCHEMA, FEATURE_DIM,
                                                 extract_media_features,
                                                 fake_decode, synth_media_pdf)
    pdf = synth_media_pdf(60, seed=42)
    df = spark.createDataFrame(pdf, schema=MEDIA_SCHEMA)
    out = extract_media_features(df, partitions=4).collect()
    assert len(out) == 60
    by_id = {r.media_id: r for r in out}
    for row in pdf.itertuples():
        got = by_id[row.media_id]
        if row.payload is None:
            # arrow delivers None payload; decoder raises -> contained error
            assert got.decode_error is not None
            assert got.features is None
        else:
            assert got.decode_error is None
            assert len(got.features) == FEATURE_DIM
            # deterministic: same bytes -> same features
            want = fake_decode(row.kind, row.payload, None)
            assert [round(f, 6) for f in got.features] == \
                [round(w, 6) for w in want]


def test_media_resize(spark):
    from pyxml_spark.pipeline.multimodal import (MEDIA_SCHEMA, fake_resize,
                                                 resize_media,
                                                 synth_media_pdf)
    pdf = synth_media_pdf(30, seed=42)
    df = spark.createDataFrame(pdf, schema=MEDIA_SCHEMA)
    out = {r.media_id: r for r in resize_media(df, 48, 48).collect()}
    assert len(out) == 30
    for row in pdf.itertuples():
        got = out[row.media_id]
        if row.kind != 'image':
            # pass-through with marker, payload untouched
            assert got.resize_error and 'no resizer' in got.resize_error
            assert got.payload == row.payload
        elif row.payload is None:
            assert got.resize_error is not None and got.payload is None
        else:
            assert got.resize_error is None
            assert got.meta.width == 48 and got.meta.height == 48
            assert got.meta.sample_rate == row.meta['sample_rate']
            assert got.payload == fake_resize(row.payload, None, 48, 48)


def test_media_frame_sampling(spark):
    from pyxml_spark.pipeline.multimodal import (MEDIA_SCHEMA,
                                                 fake_frame_sample,
                                                 sample_frames,
                                                 synth_media_pdf)
    pdf = synth_media_pdf(30, seed=42)
    df = spark.createDataFrame(pdf, schema=MEDIA_SCHEMA)
    rows = sample_frames(df, every_ms=250).collect()
    vids = {r.media_id: r for _, r in pdf.iterrows() if r.kind == 'video'}
    assert {r.media_id for r in rows} == set(vids)  # only videos explode
    by_media = {}
    for r in rows:
        by_media.setdefault(r.media_id, []).append(r)
    for mid, frames in by_media.items():
        src = vids[mid]
        frames.sort(key=lambda r: r.frame_idx)
        if src.payload is None:
            assert len(frames) == 1 and frames[0].sample_error
            continue
        want = fake_frame_sample(src.payload, dict(src.meta), 250)
        assert [f.frame for f in frames] == want
        assert [f.ts_ms for f in frames] == [k * 250
                                             for k in range(len(want))]


def test_media_decoder_registry_is_swappable():
    from pyxml_spark.pipeline import multimodal as mm
    calls = []

    def custom(kind, payload, meta):
        calls.append(kind)
        return [0.0] * mm.FEATURE_DIM

    old = dict(mm.DECODERS)
    try:
        mm.DECODERS['image'] = custom
        import pyarrow as pa
        batch = pa.RecordBatch.from_pydict({
            'media_id': [1], 'kind': ['image'], 'payload': [b'xx'],
        })
        out = list(mm.media_feature_batches([batch]))[0]
        assert calls == ['image']
        assert out.column(3).to_pylist()[0] == [0.0] * mm.FEATURE_DIM
    finally:
        mm.DECODERS.clear()
        mm.DECODERS.update(old)


def test_stateful_progress_stream(spark, tmp_path):
    """applyInPandasWithState custom operator: running per-conversation
    totals accumulate across micro-batches"""
    import os
    from pyxml_spark.pipeline import TRANSCRIPTS_SCHEMA, gen_transcripts_pdf
    from pyxml_spark.pipeline.streaming import (conversation_progress_stream,
                                                read_transcripts_stream)
    pdf = gen_transcripts_pdf(150, seed=11)
    inp = os.path.join(tmp_path, 'in3')
    spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA) \
        .repartition(3).write.parquet(inp)
    prog = conversation_progress_stream(
        read_transcripts_stream(spark, inp, max_files_per_trigger=1))
    q = (prog.writeStream.format('memory').queryName('prog_test')
         .outputMode('update')
         .option('checkpointLocation', os.path.join(tmp_path, 'ckpt3'))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    q.stop()
    # last emitted row per conversation = final running totals
    rows = spark.sql(
        'select conv_id, max(n_turns) as n_turns from prog_test '
        'group by conv_id').collect()
    want = pdf.groupby('conv_id').size().to_dict()
    got = {r.conv_id: r.n_turns for r in rows}
    assert got == want


def test_streaming_dedup_drops_repeats(spark, tmp_path):
    """dropDuplicatesWithinWatermark-based exact dedup: duplicate payloads
    within the watermark horizon are emitted once; state is horizon-bounded"""
    import pandas as pd
    from pyxml_spark.pipeline import TRANSCRIPTS_SCHEMA, gen_transcripts_pdf
    from pyxml_spark.pipeline.streaming import (dedup_stream,
                                                read_transcripts_stream)

    pdf = gen_transcripts_pdf(120, seed=11)
    # force exact duplicates: second half repeats the first half's payloads
    half = len(pdf) // 2
    pdf.loc[half:half * 2 - 1, 'text'] = list(pdf['text'][:half])
    inp = os.path.join(tmp_path, 'dedup_in')
    spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA) \
        .repartition(4).write.parquet(inp)

    deduped = dedup_stream(read_transcripts_stream(spark, inp))
    q = (deduped.writeStream.format('memory').queryName('dedup_test')
         .outputMode('append').trigger(availableNow=True).start())
    q.awaitTermination(120)
    q.stop()
    got = spark.sql('select fp, text from dedup_test').collect()
    fps = [r.fp for r in got]
    assert len(fps) == len(set(fps)), 'no fingerprint emitted twice'
    distinct_payloads = len(set(pdf['text']))
    assert len(fps) == distinct_payloads


def test_driver_streaming_rollup_equals_batch(spark):
    """the driver-visible streaming query (complete-mode memory sink +
    availableNow) must equal the plain batch group-by over the same file"""
    from pyspark.sql import functions as F
    import __spark_entry__ as entry
    sf = '/root/testdata/sf0.001'
    got = {(r.win_start, r.conv_id): (r.n_turns, r.chars_in)
           for r in entry.q_streaming_rollup(spark, sf).collect()}
    ev = spark.read.parquet(f'{sf}/events.parquet')
    want = {((r.w, r.conv_id)): (r.n, r.c) for r in
            ev.groupBy(
                (F.floor(F.col('ts').cast('timestamp').cast('long') / 300)
                 * 300).alias('w'),
                F.col('user_id').cast('string').alias('conv_id'))
            .agg(F.count('*').alias('n'),
                 F.sum(F.length('props')).alias('c')).collect()}
    assert got == want and got


def test_driver_media_features_signature(spark):
    """fsig must reconstruct the sha256-derived decoder features exactly"""
    import hashlib
    import struct
    import __spark_entry__ as entry
    sf = '/root/testdata/sf0.001'
    docs = {r.doc_id: r.text for r in
            spark.read.parquet(f'{sf}/documents.parquet').collect()}
    rows = entry.q_media_features(spark, sf).collect()
    assert len(rows) == len(docs)
    kinds = ['image', 'audio', 'video']
    for r in rows:
        text = docs[r.media_id]
        payload = text.encode()
        assert r.kind == kinds[r.media_id % 3]
        assert r.n_bytes == len(payload)
        if not payload:
            assert r.fsig is None
            assert r.decode_error == 'ValueError: empty media payload'
            continue
        digest = hashlib.sha256(payload).digest()
        want = [struct.unpack('>H', digest[(k * 2) % 32:(k * 2) % 32 + 2])[0]
                for k in range(16)]
        assert r.fsig == '-'.join(str(v) for v in want), r.media_id
        assert r.decode_error is None


def test_session_rollup_stream_boundaries(spark, tmp_path):
    """gap-based session_window: touching windows MERGE (an event at
    exactly last_ts + gap joins the open session; new session only at
    diff > gap), end = last ts + gap — the exact boundary rule the
    streaming_sessionize oracle encodes, same as the batch operator."""
    import datetime as dt
    from pyspark.sql import functions as F
    from pyxml_spark.pipeline.streaming import session_rollup_stream

    tz_key = 'spark.sql.session.timeZone'
    old_tz = spark.conf.get(tz_key, None)
    spark.conf.set(tz_key, 'UTC')
    try:
        base = dt.datetime(2025, 1, 1, 0, 0, 0)
        gap = dt.timedelta(hours=2)
        rows = [
            # u1: three events inside one session (diffs < gap), one at
            # EXACTLY gap after the last (touching windows -> MERGES),
            # then one strictly past the gap -> new session
            ('u1', base, 1.0),
            ('u1', base + dt.timedelta(minutes=30), 2.0),
            ('u1', base + dt.timedelta(minutes=60), 3.0),
            ('u1', base + dt.timedelta(minutes=60) + gap, 4.0),
            ('u1', base + dt.timedelta(minutes=60) + 2 * gap
             + dt.timedelta(microseconds=1), 5.0),
            # u2: single event
            ('u2', base + dt.timedelta(minutes=5), 7.0),
        ]
        inp = os.path.join(tmp_path, 'sess_in')
        spark.createDataFrame(rows, 'user_id string, ts timestamp, value double') \
            .coalesce(1).write.parquet(inp)
        stream = (spark.readStream
                  .schema('user_id string, ts timestamp, value double')
                  .parquet(inp))
        roll = session_rollup_stream(stream)
        q = (roll.writeStream.format('memory').queryName('sess_test')
             .outputMode('complete').trigger(availableNow=True).start())
        q.awaitTermination()
        got = {(r.user_id, r.start, r.end): (r.n_events, r.total_value)
               for r in spark.table('sess_test').select(
                   'user_id',
                   F.col('session_window.start').alias('start'),
                   F.col('session_window.end').alias('end'),
                   'n_events', 'total_value').collect()}
    finally:
        if old_tz is not None:
            spark.conf.set(tz_key, old_tz)
        else:
            spark.conf.unset(tz_key)
    tie = base + dt.timedelta(minutes=60) + gap
    late = base + dt.timedelta(minutes=60) + 2 * gap \
        + dt.timedelta(microseconds=1)
    assert got == {
        ('u1', base, tie + gap): (4, 10.0),
        ('u1', late, late + gap): (1, 5.0),
        ('u2', base + dt.timedelta(minutes=5),
         base + dt.timedelta(minutes=5) + gap): (1, 7.0),
    }
