"""Bit-packed compression codecs for rolled-up points.

gorilla: Facebook Gorilla XOR float64 compression (values).
dod:     Gorilla delta-of-delta integer compression (bucket ids / offsets).

Both are exact (lossless round-trip, including -0.0 and NaN payloads).
Each codec has one batch encoder: native C (kernels/native_mpx.c) once its
first-use self-test passes, else the vectorized numpy bit assembly that is
its reference — no per-value Python in the encode hot path.
"""

from .dod import dod_decode, dod_decode_many, dod_encode, dod_encode_many
from .gorilla import gorilla_decode, gorilla_encode, gorilla_encode_many

__all__ = ["dod_decode", "dod_decode_many", "dod_encode", "dod_encode_many", "gorilla_decode", "gorilla_encode", "gorilla_encode_many"]
