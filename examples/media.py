"""The r07 media pipeline in one runnable tour: probe → route → decode.

    python examples/media.py

A 100 TB media corpus is processed in exactly this order: the cheap
metadata pass (`probe_media` — container/codec/dims/duration, no
entropy decode) routes payloads; only the decodable survivors pay
frame decode; image stats run one Arrow operator whatever the codec. All
decoders are this repo's own stdlib/numpy codecs (jpeg.py, gif.py,
avi.py, mp4.py, mkv.py probes) — no PIL/ffmpeg anywhere.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F

from vector_lake_spark.session import get_spark


def main():
    spark = get_spark("media_example")
    spark.sparkContext.setLogLevel("ERROR")
    rng = np.random.default_rng(42)

    from vector_lake_spark.avi import encode_avi_mjpeg
    from vector_lake_spark.gif import encode_gif
    from vector_lake_spark.jpeg import encode_jpeg, encode_jpeg_progressive
    from vector_lake_spark.mp4 import encode_mp4_mjpeg
    from vector_lake_spark.multimodal import (
        extract_image_stats,
        extract_video_frames,
        probe_media,
    )

    # --- a mixed media corpus: AVI + MP4 clips ---------------------------
    frames = [
        encode_jpeg(np.full((16, 24), v, dtype=np.uint8), 100)
        for v in (10, 120, 250)
    ]
    clips = [
        (1, bytearray(encode_avi_mjpeg(frames, 3, 24, 16))),
        (2, bytearray(encode_mp4_mjpeg(frames, 3, 24, 16))),
    ]
    videos = spark.createDataFrame(clips, "media_id long, payload binary")

    # 1. metadata pass: no entropy decode, ~10x cheaper than frame decode
    print("== probe_media (route/filter/budget) ==")
    probed = probe_media(videos)
    probed.show(truncate=False)

    # 2. decode ONLY what the probe says we can, sampling the timeline
    print("== sampled frame decode (AVI + MP4 through one dispatch) ==")
    decodable = videos.join(
        probed.filter("decodable").select("media_id"), "media_id", "left_semi"
    )
    extract_video_frames(decodable, every_ms=500).show(truncate=False)

    # --- image codecs: progressive JPEG and GIF ---------------------------
    print("== image stats: progressive JPEG + GIF ==")
    img = rng.integers(0, 256, size=(32, 48, 3), dtype=np.uint8)
    pal = rng.integers(0, 256, size=(32, 3), dtype=np.uint8)
    gif_img = pal[rng.integers(0, 32, size=(24, 40))]
    images = spark.createDataFrame(
        [
            (10, bytearray(encode_jpeg_progressive(img, 90))),
            (20, bytearray(encode_gif(gif_img))),
        ],
        "media_id long, payload binary",
    )
    extract_image_stats(images).show()

    spark.stop()


if __name__ == "__main__":
    main()
