"""Image prune: ``phash_prune`` over synthesized images, bound by the
Python workers and Arrow transfer rather than by the frontier layers.

The corpus is rendered and PNG-encoded lazily inside ``mapInPandas``, so
the decode pass streams it. Media ids are salted by the workload seed.
Every 8th image is a planted near-duplicate (``~d1``) of
the image 7 ids before it and every 97th blob is corrupt, as in
``bench.image_pipeline_throughput``.
"""

from __future__ import annotations

import random
import statistics
import time

N_IMAGES = 8000
PASSES = 2
SIZE = 64
MAX_HAMMING = 2
BANDS = 4


def media_id(salt: int, pk: int) -> str:
    if pk % 8 == 7:
        return f"s{salt}_{pk - 7:07d}~d1"
    return f"s{salt}_{pk:07d}"


def is_corrupt(pk: int) -> bool:
    return pk % 97 == 0


class ImagePrune:
    """Runs in the traced ``frontier_round`` run only (see README.md)."""

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.salt = random.Random(seed).randrange(10**6)
        self.layers: dict[str, float] = {}
        self.kept: set[int] = set()

    def corpus(self, n: int = N_IMAGES):
        import pandas as pd

        salt, size = self.salt, SIZE

        def gen(batches):
            from web_crawler_spark.functions.images import encode_image, render_pixels

            for pdf in batches:
                ids, blobs = [], []
                for v in pdf["id"]:
                    pk = int(v)
                    mid = media_id(salt, pk)
                    ids.append(mid)
                    if is_corrupt(pk):
                        blobs.append(f"corrupt-{pk}".encode())
                    else:
                        blobs.append(encode_image(render_pixels(mid, size, size), "png"))
                yield pd.DataFrame({"media_id": ids, "bytes": blobs})

        sp = self.spark
        return (
            sp.range(n)
            .repartition(sp.sparkContext.defaultParallelism)
            .mapInPandas(gen, "media_id string, bytes binary")
        )

    def prune(self, n: int = N_IMAGES) -> int:
        from web_crawler_spark.operators.multimodal import phash_prune
        from web_crawler_spark.session import release_frame

        kept = phash_prune(self.corpus(n), max_hamming=MAX_HAMMING, bands=BANDS)
        count = kept.count()
        release_frame(kept, deep=True)
        return count

    def measure(self, tracer) -> None:
        """A warm pass over a tenth of the corpus, then ``PASSES`` traced
        passes; ``images.phash_table`` spans split each pass into decode +
        hash and the pair join + components that follow it."""
        self.prune(N_IMAGES // 10)
        prunes = []
        for _ in range(PASSES):
            tracer.enabled = True
            t0 = time.perf_counter()
            self.kept.add(self.prune())
            t1 = time.perf_counter()
            tracer.enabled = False
            prunes.append((t0, t1))

        def covered(prefix):
            return [sum(c.end - c.start for c in tracer.within(a, b, prefix))
                    for a, b in prunes]

        decode = covered("images.phash_table")
        walls = [b - a for a, b in prunes]
        L = self.layers
        L["images.prune_images_per_s"] = N_IMAGES / statistics.median(walls)
        L["images.decode_phash_s"] = statistics.median(decode)
        L["multimodal.pairs_components_s"] = statistics.median(
            w - d for w, d in zip(walls, decode))
        L["textdedup.connected_components_s"] = statistics.median(
            covered("textdedup.connected_components"))

    # ------------------------------------------------------------ checks

    def expected_kept(self) -> int:
        """Pure-Python recomputation of the survivor count: reference
        pHash per image (render -> ``phash64``, no codec), pairs within
        ``MAX_HAMMING``, union-find, one survivor per component. Only the
        per-image hash is farmed out to the workers."""
        import pandas as pd

        salt, size = self.salt, SIZE

        def ref_hash(batches):
            from web_crawler_spark.functions.images import phash64, render_pixels

            for pdf in batches:
                ids, hs = [], []
                for v in pdf["id"]:
                    pk = int(v)
                    if is_corrupt(pk):
                        continue
                    mid = media_id(salt, pk)
                    ids.append(mid)
                    hs.append(phash64(render_pixels(mid, size, size)))
                yield pd.DataFrame({"media_id": ids, "phash": hs})

        rows = (
            self.spark.range(N_IMAGES)
            .mapInPandas(ref_hash, "media_id string, phash long")
            .collect()
        )
        ids = sorted(r.media_id for r in rows)
        ph = {r.media_id: r.phash & (2**64 - 1) for r in rows}
        parent = {i: i for i in ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        chunk = 64 // BANDS
        buckets: dict[tuple[int, int], list[str]] = {}
        for i in ids:
            for b in range(BANDS):
                buckets.setdefault((b, (ph[i] >> (b * chunk)) & ((1 << chunk) - 1)), []).append(i)
        for members in buckets.values():
            for x in range(len(members)):
                for y in range(x + 1, len(members)):
                    a, b = members[x], members[y]
                    if bin(ph[a] ^ ph[b]).count("1") <= MAX_HAMMING:
                        ra, rb = find(a), find(b)
                        if ra != rb:
                            parent[max(ra, rb)] = min(ra, rb)
        return sum(1 for i in ids if find(i) == i)

    def check(self) -> list[str]:
        if len(self.kept) != 1:
            return [f"image_prune: kept count changed between passes: {self.kept}"]
        got, want = next(iter(self.kept)), self.expected_kept()
        if got != want:
            return [f"image_prune: phash_prune kept {got}, recomputation says {want}"]
        return []
