"""Audio transforms over envelope DataFrames (reference: klio_audio).

Operator parity (audio/src/klio_audio/transforms/):
  load_binary   ~ GcsLoadBinary (io.py:28-111): one read per element of
                  {location}/{element}{file_suffix} through pyarrow.fs —
                  only the requested objects, no listing, no join
  load_audio    ~ LoadAudio (audio.py:26-73)
  get_stft      ~ GetSTFT (audio.py:76-132) — magnitude+phase split (the
                  complex matrix has no Arrow type; SURVEY §7 known-hard)
  get_spec      ~ GetSpec (audio.py:135-187)
  get_mel_spec  ~ GetMelSpec (audio.py:190-244)
  get_mfcc      ~ GetMFCC (audio.py:247-305)
  get_features  ~ LoadAudio + any of the above in ONE pass: each payload
                  decoded once, one STFT and one mel spectrogram shared
  render_plot   ~ SpecToPlot/... (audio.py:308-515): PNG bytes via
                  matplotlib when available, else gated (import-try)

DSP kernels are numpy (klio_spark.audio.dsp) with librosa-compatible
parameters. 2-D features are stored as ARRAY<ARRAY<FLOAT>> columns
(rows = frequency bins, librosa layout).
"""

from __future__ import annotations

import functools
import io
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from klio_spark.audio import dsp
from klio_spark.config import DataIOConfig
from klio_spark.operators.existence import path_for

MAT = "array<array<float>>"


def load_binary(df: DataFrame, cfg: DataIOConfig) -> DataFrame:
    """Attach each element's blob as the `payload` column (GcsLoadBinary
    parity), replacing any payload `df` had.

    One Python pass reads {location}/{element}{file_suffix} (path_for)
    per row through pyarrow.fs (local paths, file://, gs://, s3://,
    hdfs://): only the requested objects are read, and the bytes never
    cross a join, a broadcast or a shuffle. A missing object, or a null
    element, gives a null payload."""
    loc = (cfg.location or "").rstrip("/")

    def fetch(path):
        # path_for's path is loc + "/" + element + suffix: swap the
        # location for its path inside the filesystem
        filesystem, base = _filesystem(loc)
        try:
            with filesystem.open_input_stream(base + path[len(loc):]) as f:
                return (f.read(),)
        except FileNotFoundError:
            return (None,)

    return _map_rows(
        df.withColumn("_klio_path", path_for(cfg)), ["_klio_path"],
        [("payload", "binary")], fetch, drop=("_klio_path", "payload"),
    )


@functools.cache
def _filesystem(location: str):
    """(pyarrow filesystem, `location`'s path in it), made once per Python
    worker, so a bucket gets one client rather than one per object. A
    location with no scheme is a local path."""
    from pyarrow import fs

    if "://" in location or os.path.isabs(location):
        return fs.FileSystem.from_uri(location)
    return fs.LocalFileSystem(), location


def _map_rows(df: DataFrame, in_cols, out_fields, fn, drop=()) -> DataFrame:
    """One mapInPandas stage: `df`'s columns except `drop`, then
    `out_fields` [(name, type)]. `fn(*values of in_cols)` returns one
    value per out field; a row whose first in_col is null gets nulls.
    Matrix values go out as lists of numpy rows, which Arrow converts
    without a Python float per element."""
    fields = [f for f in df.schema.fields if f.name not in drop]
    keep = [f.name for f in fields]
    schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in fields]
        + [f"`{name}` {typ}" for name, typ in out_fields]
    )
    nulls = (None,) * len(out_fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[keep].copy()
            rows = [
                fn(*vals) if vals[0] is not None else nulls
                for vals in zip(*(pdf[c] for c in in_cols))
            ]
            for i, (name, _) in enumerate(out_fields):
                out[name] = [r[i] for r in rows]
            yield out

    return df.mapInPandas(run, schema=schema)


def _rows(m: np.ndarray) -> list:
    return list(m.astype(np.float32))


def _f32(a) -> np.ndarray:
    return np.asarray(a, dtype=np.float32)


def load_audio(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """payload WAV bytes → waveform ARRAY<FLOAT> + sr (LoadAudio parity)."""
    return _map_rows(
        df, [payload_col], [("waveform", "array<float>"), ("sr", "int")],
        lambda raw: dsp.decode_wav(bytes(raw)), drop=(payload_col,),
    )


def get_stft(
    df: DataFrame,
    waveform_col: str = "waveform",
    n_fft: int = 2048,
    hop_length: int = 512,
) -> DataFrame:
    """waveform → stft_mag + stft_phase matrices (GetSTFT parity; complex
    split into magnitude/phase because Arrow has no complex type)."""
    def fn(wv):
        s = dsp.stft(_f32(wv), n_fft, hop_length)
        return _rows(np.abs(s)), _rows(np.angle(s))

    return _map_rows(
        df, [waveform_col], [("stft_mag", MAT), ("stft_phase", MAT)], fn
    )


def _spec(mag: np.ndarray) -> list:
    return _rows(dsp.amplitude_to_db(mag.astype(np.float64)))


def get_spec(df: DataFrame, mag_col: str = "stft_mag") -> DataFrame:
    """|STFT| → dB spectrogram ref=max (GetSpec parity)."""
    # Arrow hands nested arrays as object-dtype rows; stack to a 2-D matrix
    return _map_rows(
        df, [mag_col], [("spec", MAT)],
        lambda mag: (_spec(np.stack([_f32(m) for m in mag])),), drop=(mag_col,),
    )


def get_mel_spec(
    df: DataFrame,
    waveform_col: str = "waveform",
    sr_col: str = "sr",
    n_fft: int = 2048,
    hop_length: int = 512,
    n_mels: int = 128,
) -> DataFrame:
    """waveform → mel power spectrogram (GetMelSpec parity)."""
    return _map_rows(
        df, [waveform_col, sr_col], [("mel_spec", MAT)],
        lambda wv, sr: (
            _rows(dsp.melspectrogram(_f32(wv), int(sr), n_fft, hop_length, n_mels)),
        ),
        drop=(waveform_col,),
    )


def get_mfcc(
    df: DataFrame,
    waveform_col: str = "waveform",
    sr_col: str = "sr",
    n_mfcc: int = 20,
    n_fft: int = 2048,
    hop_length: int = 512,
    n_mels: int = 128,
) -> DataFrame:
    """waveform → MFCC matrix (GetMFCC parity)."""
    return _map_rows(
        df, [waveform_col, sr_col], [("mfcc", MAT)],
        lambda wv, sr: (
            _rows(dsp.mfcc(_f32(wv), int(sr), n_mfcc, n_fft, hop_length, n_mels)),
        ),
        drop=(waveform_col,),
    )


FEATURES = ("stft_mag", "stft_phase", "spec", "mel_spec", "mfcc")


def get_features(
    df: DataFrame,
    features=("mel_spec", "mfcc"),
    payload_col: str = "payload",
    n_fft: int = 2048,
    hop_length: int = 512,
    n_mels: int = 128,
    n_mfcc: int = 20,
) -> DataFrame:
    """payload WAV bytes → sr + every requested feature, in ONE pass.

    Each payload is decoded once and its STFT taken once; mel_spec and
    mfcc share one mel spectrogram. The waveform stays numpy inside the
    pass. Each feature equals its per-op chain bit for bit: load_audio →
    get_stft (stft_mag, stft_phase) → get_spec (spec), get_mel_spec,
    get_mfcc with the same parameters. A null payload keeps its row with
    null sr and features."""
    if not set(features) <= set(FEATURES):
        raise ValueError(f"audio features {features}: known are {FEATURES}")
    with_mel = bool({"mel_spec", "mfcc"} & set(features))

    def fn(raw):
        y, sr = dsp.decode_wav(bytes(raw))
        s = dsp.stft(y, n_fft, hop_length)
        mel = dsp.mel_from_stft(s, sr, n_fft, n_mels) if with_mel else None
        make = {
            "stft_mag": lambda: _rows(np.abs(s)),
            "stft_phase": lambda: _rows(np.angle(s)),
            # get_spec reads the magnitude back as float32
            "spec": lambda: _spec(np.abs(s).astype(np.float32)),
            "mel_spec": lambda: _rows(mel),
            "mfcc": lambda: _rows(dsp.mfcc_from_mel(mel, n_mfcc)),
        }
        return (sr, *(make[f]() for f in features))

    return _map_rows(
        df, [payload_col], [("sr", "int")] + [(f, MAT) for f in features], fn,
        drop=(payload_col,),
    )


def _plotter():
    """matplotlib.pyplot with the headless Agg backend, or None. Probed
    on the executor that renders: a driver-side check would bake the
    driver's environment into the closure and fail the task in mixed
    driver/executor images instead of falling back to the built-in
    encoder."""
    try:
        import matplotlib

        matplotlib.use("Agg")
        import matplotlib.pyplot as plt

        return plt
    except ImportError:
        return None


def render_plot(
    df: DataFrame,
    matrix_col: str,
    out_col: str = "plot_png",
    *,
    cmap: str = "magma",
    dpi: int = 72,
) -> DataFrame:
    """Feature matrix → PNG bytes column (SpecToPlot/MelSpecToPlot/
    MFCCToPlot parity, reference audio.py:308-515).

    Two render paths, both real:
      * matplotlib importable on executors → Agg figure with axes/labels
        (the reference's rendering).
      * otherwise → a pure numpy+zlib encoder (_matrix_to_png): the
        matrix normalizes to 0-1, maps through a magma-like 256-color
        LUT, and encodes as a true RGB PNG, one pixel per cell. No
        external deps, deterministic bytes — plotting works in minimal
        containers instead of gating on the library."""
    def fn(mat):
        m = np.stack([np.asarray(r, dtype=np.float64) for r in mat])
        plt = _plotter()
        if plt is None:
            return (_matrix_to_png(m, cmap=cmap),)
        fig, ax = plt.subplots(figsize=(6, 4), dpi=dpi)
        ax.imshow(m, aspect="auto", origin="lower", cmap=cmap)
        ax.set_xlabel("frames")
        ax.set_ylabel("bins")
        buf = io.BytesIO()
        fig.savefig(buf, format="png", bbox_inches="tight")
        plt.close(fig)
        return (buf.getvalue(),)

    return _map_rows(df, [matrix_col], [(out_col, "binary")], fn)


def _magma_lut() -> np.ndarray:
    """256×3 uint8 approximation of the magma colormap: piecewise-linear
    through its anchor colors — close enough for spectrogram inspection,
    zero dependencies."""
    anchors = np.array(
        [
            (0.000, (0, 0, 4)),
            (0.250, (81, 18, 124)),
            (0.500, (183, 55, 121)),
            (0.750, (251, 136, 97)),
            (1.000, (252, 253, 191)),
        ],
        dtype=object,
    )
    xs = np.array([a[0] for a in anchors], dtype=np.float64)
    cs = np.array([a[1] for a in anchors], dtype=np.float64)  # (5, 3)
    t = np.linspace(0.0, 1.0, 256)
    lut = np.stack(
        [np.interp(t, xs, cs[:, ch]) for ch in range(3)], axis=1
    )
    return np.clip(np.round(lut), 0, 255).astype(np.uint8)


def _matrix_to_png(m: np.ndarray, *, cmap: str = "magma") -> bytes:
    """Feature matrix → RGB PNG bytes with no imaging library: normalize,
    color through the LUT (origin='lower' row order like imshow), encode
    scanlines with zlib per the PNG spec (filter 0). `cmap` accepts
    'gray' for a luminance ramp; anything else uses the magma LUT."""
    import struct
    import zlib

    lo, hi = float(np.min(m)), float(np.max(m))
    norm = (m - lo) / (hi - lo) if hi > lo else np.zeros_like(m)
    idx = np.clip((norm * 255).astype(np.int64), 0, 255)
    if cmap == "gray":
        lut = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
    else:
        lut = _magma_lut()
    rgb = lut[idx][::-1]  # (rows, cols, 3); flip → origin lower
    h, w = rgb.shape[:2]
    raw = b"".join(b"\x00" + rgb[r].tobytes() for r in range(h))

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def upload_plots(
    df: DataFrame,
    location: str,
    png_col: str = "plot_png",
    element_col: str = "element",
) -> None:
    """Write rendered PNGs as `{location}/{element}.png` (GcsUploadPlot
    parity, reference audio.py:470-515) — executor-side writes, one file
    per element, driver never sees the bytes."""
    os.makedirs(location, exist_ok=True)

    def write_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = 0
            for el, png in zip(pdf[element_col], pdf[png_col]):
                if png is None:
                    continue
                with open(os.path.join(location, f"{el}.png"), "wb") as f:
                    f.write(bytes(png))
                n += 1
            yield pd.DataFrame({"n": [n]})

    df.select(element_col, png_col).mapInPandas(
        write_part, schema="n long"
    ).write.mode("overwrite").format("noop").save()
