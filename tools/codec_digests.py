"""Print the SHA-256 of every media encoder's output over fixed inputs.

    python tools/codec_digests.py > digests.txt

Run it in two checkouts and ``diff`` the outputs: a refactor of the
codec layer (``stockify_spark/llm/``) must leave every line unchanged,
since any encoder byte that moves changes what the media queries
decode. Each line is ``<case> <sha256> <bytes>``. The inputs are
seeded and small, so a run takes a few seconds.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402


def _cases():
    from stockify_spark.llm import adpcm, avi, flac, gif, h264, jpeg, mp3, mp4, png, wav, y4m

    rng = np.random.RandomState(7)
    # smooth gradient plus noise: nonzero AC bands in every block and
    # some runs of zeros, so both Huffman paths and ZRL are exercised
    yy, xx = np.mgrid[0:37, 0:45]
    rgb = np.stack([(xx * 5 + yy * 2) % 256, (yy * 6) % 256, (xx * yy) % 256], axis=-1)
    rgb = np.clip(rgb + rng.randint(-20, 21, size=rgb.shape), 0, 255).astype(np.uint8)
    gray = rgb[..., 0]
    frames = rng.randint(0, 256, size=(3, 24, 32)).astype(np.uint8)
    mono = [int(8000 * math.sin(t / 30)) + (t * 7919) % 101 - 50 for t in range(9000)]
    left = [int(6000 * math.sin(t / 21)) for t in range(5000)]
    right = [v // 2 + (t * 31) % 17 - 8 for t, v in enumerate(left)]

    yield "jpeg_baseline_420", jpeg.encode_jpeg(rgb)
    yield "jpeg_baseline_444", jpeg.encode_jpeg(rgb, subsample="444")
    yield "jpeg_baseline_gray_rst", jpeg.encode_jpeg(gray, restart_interval=2)
    yield "jpeg_progressive_420", jpeg.encode_jpeg_progressive(rgb)
    yield "jpeg_progressive_gray", jpeg.encode_jpeg_progressive(gray)
    yield "flac_mono", flac.encode_flac(mono)
    yield "flac_stereo", flac.encode_flac((left, right), 44100)
    yield "flac_constant", flac.encode_flac([5] * 4100)
    yield "mp3_frames", mp3.encode_mp3_frames([5, 9, 12, 1, 14], sr_idx=1)
    yield "mp3_silence", mp3.encode_mp3_silence(
        [9, 10, 11], gain_fn=lambda j, g, c: (37 * j + 11 * g + 5 * c) % 256,
        count1_fn=lambda j, g, c: (j + g + c) % 2,
    )
    yield "h264_annexb", h264.encode_h264_annexb(1918, 1078, 3, 10, profile_idc=77, level_idc=41)
    yield "h264_annexb_aligned", h264.encode_h264_annexb(64, 48, 1, 2)
    yield "h264_ipcm", h264.encode_h264_ipcm(48, 32, 10, 100, 200)
    yield "gif", gif.encode_gif([bytes(f.reshape(-1)) for f in frames], 32, 24, delay_cs=7)
    yield "gif_lzw_long", gif.lzw_encode(bytes((i * i) % 251 for i in range(20000)), 8)
    yield "png_rgb", png.encode_png(rgb)
    yield "png_gray", png.encode_png(gray)
    yield "avi_mjpeg", avi.encode_avi_mjpeg(frames, fps=(30, 1))
    yield "mp4_mjpeg", mp4.encode_mp4_mjpeg(frames, fps=(24, 1))
    yield "wav", wav.encode_wav(np.array(mono, dtype=np.int16))
    yield "y4m", y4m.encode_y4m(frames)
    yield "adpcm", adpcm.encode_ima(mono[:3000])


def main() -> None:
    for name, data in _cases():
        print(name, hashlib.sha256(data).hexdigest(), len(data))


if __name__ == "__main__":
    main()
