"""Multimodal decode tier end to end — every codec stage that is REAL in
this engine, with no image/audio library installed:

    python examples/media_pipeline.py [sf_dir]

1. container metadata gating (d48)   — PNG/WAV/MP4/JPEG header parse:
                                       the resolution/duration filter a
                                       training pipeline runs BEFORE decode
2. raw-pixel decode (d99)            — BMP/PPM file → pixel grid in numpy
                                       (padding, row order, channel order)
3. compressed PNG decode (d105)      — stdlib-zlib DEFLATE + all five
                                       PNG filters unfiltered
4. baseline JPEG entropy decode (d108) — canonical Huffman + DC-diff +
                                       AC run-length + IDCT
5. audio resample (d109)             — WAV parse + rational 3/2 linear
                                       interpolation, exact integer stats

Each stage is two chained Arrow-batched mapInPandas passes (synth →
decode) with ZERO shuffles — payload bytes never cross an exchange, which
is what makes heavy media columns viable at 100 TB.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pandas_db_sdk_spark import get_spark, multimodal
from pandas_db_sdk_spark.io import tables


def main(sf_dir: str) -> None:
    spark = get_spark("media-pipeline-example")
    docs = tables(spark, sf_dir)("documents").limit(200)

    print("== 1. container metadata gate (no decode needed) ==")
    payloads = multimodal.synth_media_payload(docs, "doc_id", kinds=4)
    meta = multimodal.parse_media_headers(payloads, "payload", "doc_id")
    meta.groupBy("format").agg(
        F.count("*").alias("files"),
        F.avg("width").alias("avg_w"),
        F.avg("duration_s").alias("avg_dur_s"),
    ).orderBy("format").show()

    print("== 2. raw-pixel decode: BMP/PPM -> per-channel stats ==")
    bmp = multimodal.synth_bmp_ppm(docs, "doc_id")
    multimodal.decode_bmp_ppm_stats(bmp, "payload", "doc_id").groupBy(
        "format"
    ).agg(F.count("*").alias("rows"), F.avg("mean").alias("avg_mean")).show()

    print("== 3. compressed PNG decode (DEFLATE + 5-filter unfiltering) ==")
    png = multimodal.synth_png(docs, "doc_id")
    multimodal.decode_png_stats(png, "payload", "doc_id").agg(
        F.count("*").alias("rows"),
        F.sum("pos_sum").alias("total_checksum"),
    ).show()

    print("== 4. baseline JPEG entropy decode (Huffman + IDCT) ==")
    jpg = multimodal.synth_jpeg(docs, "doc_id")
    multimodal.decode_jpeg_stats(jpg, "payload", "doc_id").agg(
        F.count("*").alias("images"),
        F.min("min").alias("min_px"),
        F.max("max").alias("max_px"),
    ).show()

    print("== 4b. the JPEG feature ladder: restart / progressive / SA / color ==")
    for label, files in (
        ("restart-intervals", multimodal.synth_jpeg_dri(docs, "doc_id")),
        ("progressive", multimodal.synth_jpeg_progressive(docs, "doc_id")),
        ("progressive-SA", multimodal.synth_jpeg_progressive_sa(docs, "doc_id")),
    ):
        row = (
            multimodal.decode_jpeg_stats(files, "payload", "doc_id")
            .agg(F.count("*").alias("images"), F.sum("pos_sum").alias("checksum"))
            .collect()[0]
        )
        print(f"  {label}: {row['images']} images, checksum {row['checksum']}")
    color_sa = multimodal.synth_jpeg_color_progressive_sa(docs, "doc_id")
    row = (
        multimodal.decode_jpeg_color_stats(color_sa, "payload", "doc_id")
        .agg(F.count("*").alias("rows"), F.sum("pos_sum").alias("checksum"))
        .collect()[0]
    )
    print(f"  color-progressive-SA: {row['rows']} channel rows, checksum {row['checksum']}")

    print("== 3b. the PNG matrix: Adam7 / palette / 16-bit ==")
    for label, files in (
        ("adam7", multimodal.synth_png_adam7(docs, "doc_id")),
        ("palette", multimodal.synth_png_palette(docs, "doc_id")),
        ("16-bit", multimodal.synth_png_16bit(docs, "doc_id")),
    ):
        row = (
            multimodal.decode_png_stats(files, "payload", "doc_id")
            .agg(F.count("*").alias("rows"), F.sum("pos_sum").alias("checksum"))
            .collect()[0]
        )
        print(f"  {label}: {row['rows']} channel rows, checksum {row['checksum']}")

    print("== 5. audio resample 8kHz -> 12kHz (exact integer stats) ==")
    wav = multimodal.synth_pcm_wav(docs, "doc_id")
    multimodal.resample_pcm_stats(wav, "payload", "doc_id", up=3, down=2).agg(
        F.count("*").alias("files"),
        F.sum("n_in").alias("samples_in"),
        F.sum("n_out").alias("samples_out"),
    ).show()

    print("== 5b. polyphase windowed-sinc resample 44.1->48kHz (160/147) ==")
    multimodal.resample_fir_stats(
        wav, "payload", "doc_id", up=160, down=147
    ).agg(
        F.count("*").alias("files"),
        F.sum("n_out").alias("samples_out"),
    ).show()

    print("== 5c. audio near-dup: chirp fingerprints + Hamming clusters ==")
    from pandas_db_sdk_spark import dedup

    small = docs.select((F.col("doc_id") % 8).alias("doc_id")).distinct()
    fleet = multimodal.synth_chirp_wav(small, "doc_id").unionAll(
        multimodal.synth_chirp_wav(small, "doc_id", gain=2).select(
            (F.col("doc_id") + 1000).alias("doc_id"), "payload"
        )
    )
    fps = multimodal.audio_fingerprint(fleet, "payload", "doc_id")
    sigs = fps.select(
        "doc_id",
        (F.col("fp_lo") + F.shiftleft(F.col("fp_hi"), 32)).alias("sig"),
    )
    dedup.hamming_clusters(sigs, "doc_id", "sig").orderBy("cluster", "id").show(6)

    print("== 5c2. LONG audio: chunked fingerprints catch a trimmed copy ==")
    long_orig = multimodal.synth_chirp_wav(small, "doc_id", extra=1000)
    long_fleet = long_orig.unionAll(
        multimodal.wav_trim(long_orig, start_sample=640).select(
            (F.col("doc_id") + 1000).alias("doc_id"), "payload"
        )
    )
    multimodal.audio_chunk_near_dup(long_fleet, "payload", "doc_id").orderBy(
        "id_a"
    ).show(8)

    print("== 5c3. VAD: speech/silence segmentation -> per-segment clips ==")
    speech = multimodal.synth_speech_wav(small, "doc_id")
    segs = multimodal.vad_segments(speech, "payload", "doc_id")
    clips = multimodal.wav_extract_segments(speech, segs, "payload", "doc_id")
    clips.agg(
        F.count("*").alias("clips"),
        F.sum("n_samples").alias("speech_samples"),
    ).show()

    print("== 5d. EXIF: extract device metadata, then strip it (media PII) ==")
    exif_jpegs = multimodal.synth_jpeg_exif(docs.limit(50), "doc_id")
    multimodal.exif_extract(exif_jpegs, "payload", "doc_id").groupBy(
        "make"
    ).agg(F.count("*").alias("files")).orderBy("make").show()
    stripped = multimodal.exif_strip(exif_jpegs, "payload", "doc_id")
    residual = multimodal.exif_extract(
        stripped.select("doc_id", "payload"), "payload", "doc_id"
    )
    residual.agg(
        F.count("*").alias("files"),
        F.sum("has_exif").alias("residual_exif"),
    ).show()

    print("== 6. WARC crawl ingestion: container -> HTTP -> main text ==")
    from pandas_db_sdk_spark import text

    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><body><nav>menu</nav><p>"), F.col("text"),
            F.lit("</p><footer>f</footer></body></html>"),
        ).alias("html"),
        F.concat(
            F.lit("HTTP://Site.COM:80/d/"), F.col("doc_id").cast("string"),
            F.lit("?utm_source=x&b=2&a=1"),
        ).alias("uri"),
    )
    warc = multimodal.synth_warc(pages, "html", "uri", "doc_id")
    parsed = multimodal.parse_warc(warc, "payload", "doc_id")
    parsed.select(
        "doc_id",
        text.canonical_url(F.col("target_uri")).alias("canonical_uri"),
        F.length(text.html_main_text(F.col("body"))).alias("main_text_len"),
    ).show(4, truncate=60)


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
