from .dedup import (  # noqa: F401
    embedding_dup_pairs,
    exact_dedup,
    jaccard_dup_pairs,
    minhash_lsh_dup_pairs,
    shingle_sets,
    simhash_dup_pairs,
)
from .cluster import (  # noqa: F401
    assign_two_level,
    kmeans_centroids,
    kmeans_cluster_profile,
    kmeans_embeddings,
    kmeans_large_embeddings,
    kmeans_parallel_centroids,
    semdedup_cap_stats,
    semdedup_prune,
)
from .similarity import brute_force_topk, cosine, hyperplane_buckets, lsh_topk  # noqa: F401

# The codec re-exports resolve on first access: ``multimodal`` (pure-python
# image/audio/video decoders) and ``native_codecs`` are reached by no ingest
# or streaming path, so importing ``operators`` must not pay for them.
_LAZY = {
    "native_image_decode": "native_codecs",
    "webp_available": "native_codecs",
    "gif_frames": "multimodal",
    "gif_pixels": "multimodal",
    "jpeg_pixels": "multimodal",
    "mjpeg_frame_spans": "multimodal",
    "png_pixels": "multimodal",
    "sample_video_frames": "multimodal",
    "tiff_pixels": "multimodal",
    "wav_pcm16_samples": "multimodal",
}


def __getattr__(name: str):
    module = _LAZY.get(name)
    if module is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    from importlib import import_module

    value = getattr(import_module(f".{module}", __name__), name)
    globals()[name] = value
    return value


def __dir__():
    return sorted(set(globals()) | set(_LAZY))
