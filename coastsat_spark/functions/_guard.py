"""Decode-side dimension sanity guard, shared by the codecs.

Output buffers are allocated from header-DECLARED dimensions, so a
corrupt/hostile header (e.g. a BMP or TIFF reading 65535x65535) would
demand a multi-GB allocation before any data-driven error fires —
a memory-DoS against executors processing untrusted corpora under
on_error='skip'. Every decoder checks declared dims against this cap
before allocating; real scenes sit orders of magnitude below it.
"""

MAX_DECODE_PIXELS = 1 << 28  # 268M px (~16k x 16k); per decoded plane set


def check_dims(w: int, h: int, what: str, frames: int = 1) -> None:
    """Reject non-positive or implausibly large declared dimensions."""
    if w <= 0 or h <= 0 or frames <= 0 or w * h * frames > MAX_DECODE_PIXELS:
        raise ValueError(
            f"{what}: implausible declared dimensions {w}x{h}"
            + (f" x {frames} frames" if frames != 1 else "")
        )
