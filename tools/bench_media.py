"""Standalone multimodal decode throughput probe — the same construction as
bench.py section 2b (real PNG/BMP/JPEG-420-DRI/GIF + WAV payloads through the
spec decoders via mapInPandas), runnable on its own for decoder iteration
without the full 35-minute bench. Prints one JSON line.

Usage: python tools/bench_media.py [--imgs 4096] [--wavs 2048] [--cores N]

--cores defaults to the number of CPUs this process may run on.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--imgs", type=int, default=4096)
    ap.add_argument("--wavs", type=int, default=2048)
    ap.add_argument("--cores", type=int,
                    default=len(os.sched_getaffinity(0)))
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--img-path", default="/tmp/bench_media_img_v2.parquet",
                    help="payload cache path; point at a fresh path together "
                         "with a larger --imgs to size the job above the "
                         "~0.5 s scheduling floor (65 MB in ~1.4 s at "
                         "local[32] is floor-dominated)")
    ap.add_argument("--wav-path", default="/tmp/bench_media_wav.parquet")
    ap.add_argument("--per-format", action="store_true",
                    help="also time each image format subset alone "
                         "(png/bmp/jpeg/gif MB/s) — shows which format "
                         "binds the mix")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from ezmsg_sigproc_spark.operators.multimodal import (
        decode_audio_features,
        decode_image_features,
    )
    from ezmsg_sigproc_spark.session import get_spark

    spark = get_spark(app_name="bench_media", cores=args.cores,
                      shuffle_partitions=args.cores)

    # identical payload recipe to bench.py (v2: JPEG carries DRI=4)
    def _gen_images(batches):
        import numpy as _np
        import pandas as _pd

        from ezmsg_sigproc_spark.operators.gif import synth_gif as _sg
        from ezmsg_sigproc_spark.operators.multimodal import (
            synth_bmp as _sb,
            synth_jpeg as _sjc,
            synth_png as _sp,
        )
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                rng = _np.random.default_rng(int(i))
                h = 48 + int(rng.integers(0, 80))
                w = 48 + int(rng.integers(0, 80))
                grad = _np.add.outer(_np.arange(h) * 3, _np.arange(w) * 5) % 256
                img = ((grad[:, :, None] + rng.integers(0, 32, (h, w, 3))) % 256
                       ).astype(_np.uint8)
                kind = int(i) % 4
                if kind == 0:
                    payload = _sp(img)
                elif kind == 1:
                    payload = _sb(img)
                elif kind == 2:
                    payload = _sjc(img, subsample="420", restart_interval=4)
                else:
                    payload = _sg(img.mean(axis=2).astype(_np.uint8))
                rows.append((int(i), payload))
            yield _pd.DataFrame(rows, columns=["doc_id", "payload"])

    def _gen_wavs(batches):
        import numpy as _np
        import pandas as _pd

        from ezmsg_sigproc_spark.operators.multimodal import synth_wav as _sw
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                rng = _np.random.default_rng(int(i) + 10_000_000)
                n = 8000 + int(rng.integers(0, 16000))
                t = _np.arange(n) / 16000.0
                x = (0.5 * _np.sin(2 * _np.pi * (100 + int(i) % 400) * t)
                     + 0.1 * rng.standard_normal(n))
                rows.append((int(i), _sw(_np.clip(x, -1, 1), 16000)))
            yield _pd.DataFrame(rows, columns=["doc_id", "payload"])

    media_img = args.img_path
    media_wav = args.wav_path
    if not os.path.exists(media_img):
        spark.range(args.imgs, numPartitions=args.cores * 2).mapInPandas(
            _gen_images, schema="doc_id bigint, payload binary"
        ).write.mode("overwrite").parquet(media_img)
    if not os.path.exists(media_wav):
        spark.range(args.wavs, numPartitions=args.cores * 2).mapInPandas(
            _gen_wavs, schema="doc_id bigint, payload binary"
        ).write.mode("overwrite").parquet(media_wav)

    def _time_decode(df_m, mb, op, repeats):
        runs, counts = [], None
        for _ in range(repeats):
            t0 = time.monotonic()
            res = op(df_m, binary_col="payload", keep_cols=("doc_id",))
            counts = {r["format"]: r["cnt"] for r in res.groupBy("format").agg(
                F.count("*").alias("cnt")).collect()}
            runs.append(round(time.monotonic() - t0, 3))
        assert "unknown" not in counts and "corrupt" not in counts, counts
        return {"sec_runs": runs,
                "mb_per_sec_best": round(mb / min(runs), 1),
                "formats": counts}

    out = {"cores": args.cores}
    for name, path, op in (("image", media_img, decode_image_features),
                           ("audio", media_wav, decode_audio_features)):
        df_m = spark.read.parquet(path).cache()
        stats = df_m.agg(F.count("*").alias("n"),
                         F.sum(F.length("payload")).alias("b")).collect()[0]
        mb = stats.b / 1e6
        out[name] = {"n_payloads": stats.n, "payload_mb": round(mb, 1),
                     **_time_decode(df_m, mb, op, args.repeats)}
        if name == "image" and args.per_format:
            magic = {"png": b"\x89PN", "bmp": b"BM", "jpeg": b"\xff\xd8",
                     "gif": b"GIF"}
            per = {}
            for fmt, pre in magic.items():
                sub = df_m.filter(
                    F.substring("payload", 1, len(pre)) == F.lit(pre)).cache()
                s = sub.agg(F.count("*").alias("n"),
                            F.sum(F.length("payload")).alias("b")).collect()[0]
                if s.n:
                    per[fmt] = {"n_payloads": s.n,
                                "payload_mb": round(s.b / 1e6, 1),
                                **_time_decode(sub, s.b / 1e6, op,
                                               max(2, args.repeats - 1))}
                sub.unpersist()
            out["image_per_format"] = per
        df_m.unpersist()
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
