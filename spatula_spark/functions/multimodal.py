"""Audio column operators: clips as opaque binary.

Training-data pipelines treat media as ``binary`` columns with typed
metadata and run decode / feature-extract as Arrow-batched
``mapInPandas`` stages. PCM RIFF/WAVE (8/16/32-bit) is decoded by the
stdlib ``wave`` module; other formats go through ``soundfile`` when it
is installed, and raise otherwise. Image codecs live in images.py and
jpeg.py.

Column-pruning discipline: every operator here takes a slim projection
and is the only stage that touches the binary column.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

# optional-dependency probe: WAV is decoded by the stdlib regardless;
# soundfile only widens coverage (non-WAV audio) when the library
# exists in the deployment. A contract test exercises the routing with
# a fake module and skips the real-codec assertion when it is absent.
try:  # pragma: no cover - optional dependency
    import soundfile  # noqa: F401

    _HAVE_AUDIO = True
except Exception:
    _HAVE_AUDIO = False


AUDIO_FEATURES_SCHEMA = (
    "clip_id string, n_samples long, sample_rate int, rms double, "
    "zero_crossings long"
)


def wav_encode(samples: np.ndarray, rate: int = 16000) -> bytes:
    """Mono float [-1, 1] -> PCM16 RIFF/WAVE bytes (stdlib ``wave``)."""
    import io
    import wave as _wave

    pcm = np.clip(np.asarray(samples) * 32767.0, -32768, 32767).astype("<i2")
    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


def decode_audio(data: bytes) -> tuple[np.ndarray, int]:
    """REAL decode for PCM RIFF/WAVE (stdlib ``wave``: 8/16/32-bit,
    multi-channel averaged to mono float in [-1, 1]); soundfile is used
    for other formats when importable. Any other bytes raise
    ``ValueError``: features of an undecodable clip would be noise."""
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        import io
        import wave as _wave

        with _wave.open(io.BytesIO(data), "rb") as w:
            rate = w.getframerate()
            nch = w.getnchannels()
            width = w.getsampwidth()
            raw = w.readframes(w.getnframes())
        if width == 1:  # unsigned 8-bit
            arr = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64)
                   - 128.0) / 128.0
        elif width == 2:
            arr = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
        elif width == 4:
            arr = (np.frombuffer(raw, dtype="<i4").astype(np.float64)
                   / 2147483648.0)
        else:
            raise NotImplementedError(f"{width * 8}-bit PCM")
        if nch > 1:
            arr = arr.reshape(-1, nch).mean(axis=1)
        return arr, int(rate)
    if _HAVE_AUDIO:  # pragma: no cover
        import io

        import soundfile as sf

        wav, rate = sf.read(io.BytesIO(data))
        return np.asarray(wav, dtype=np.float64), int(rate)
    raise ValueError(
        f"audio bytes are not RIFF/WAVE (leading {data[:12]!r}) and "
        "soundfile is not installed to decode other formats"
    )


def audio_features_iter(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas body over (clip_id, bytes)."""
    for pdf in batches:
        rows = []
        for r in pdf.itertuples(index=False):
            wav, rate = decode_audio(bytes(r.bytes))
            zc = int(((wav[:-1] * wav[1:]) < 0).sum()) if len(wav) > 1 else 0
            rms = float(np.sqrt((wav**2).mean())) if len(wav) else 0.0
            rows.append((r.clip_id, len(wav), rate, rms, zc))
        yield pd.DataFrame(rows, columns=[
            "clip_id", "n_samples", "sample_rate", "rms", "zero_crossings",
        ])


def audio_features(clips: DataFrame) -> DataFrame:
    return clips.select("clip_id", "bytes").mapInPandas(
        audio_features_iter, AUDIO_FEATURES_SCHEMA
    )

