"""Real multimodal pipeline demo — the codec-free formats end to end:
mint genuine WAV-PCM, µ-law Sun-AU, binary-PNM, 24-bit BMP, PNG
(stdlib-zlib DEFLATE) and LZW GIF payloads executor-side
(functions/multimodal.py synth_media), then run the REAL decode /
feature-extract / block-mean-resize passes, each one zero-shuffle
mapInPandas stage over Arrow batches.

No reference analogue (SURVEY.md §2 — the reference has no media
model); this demos the beyond-parity multimodal column surface.

Run:  python examples/media_features.py [sf_dir]
"""

import sys

sys.path.insert(0, ".")

from kafkadirect_spark import get_spark
from kafkadirect_spark.functions import multimodal
from kafkadirect_spark.sources.batch import load_table


def main(sf_dir: str = "/root/testdata/sf0.001") -> None:
    spark = get_spark("media-features-demo")
    ids = load_table(spark, sf_dir, "documents").select("doc_id").limit(50)

    wav = multimodal.synth_media(ids, "doc_id", kind="wav")
    print("== audio features (RIFF/WAVE PCM, stdlib decode) ==")
    multimodal.audio_features(wav).orderBy("doc_id").show(10)

    au = multimodal.synth_media(ids, "doc_id", kind="au")
    print("== audio features (Sun AU, exact G.711 µ-law expand) ==")
    multimodal.audio_features(au).orderBy("doc_id").show(10)

    img = multimodal.synth_media(ids, "doc_id", kind="pnm")
    print("== image features (binary PNM) ==")
    multimodal.image_features(img).orderBy("doc_id").show(10)

    bmp = multimodal.synth_media(ids, "doc_id", kind="bmp")
    print("== image features (24-bit BMP, bottom-up BGR raster) ==")
    multimodal.image_features(bmp).orderBy("doc_id").show(10)

    png = multimodal.synth_media(ids, "doc_id", kind="png")
    print("== image features (PNG: CRC walk -> inflate -> unfilter) ==")
    multimodal.image_features(png).orderBy("doc_id").show(10)

    gif = multimodal.synth_media(ids, "doc_id", kind="gif")
    print("== image features (GIF: sub-block LZW -> palette -> RGB) ==")
    multimodal.image_features(gif).orderBy("doc_id").show(10)

    print("== 2x block-mean resize (decode -> resample -> re-encode) ==")
    multimodal.resize_images(img.unionByName(bmp).unionByName(png),
                             factor=2) \
        .orderBy("doc_id").select("doc_id", "width", "height").show(10)

    print("== perceptual near-dup (aHash -> byte-band Hamming pairs) ==")
    multimodal.phash_pairs(multimodal.image_phash(img), "doc_id",
                           max_hamming=2) \
        .orderBy("id_a", "id_b").show(10)


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
