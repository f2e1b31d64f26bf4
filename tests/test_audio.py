"""Audio operator tests (FIXTURES.md F6: deterministic synthetic WAVs).

The audio-spectrograms integration pipeline shape
(integration/audio-spectrograms/run.py:46-120) is reproduced in
test_full_audio_pipeline: load binary → load audio → stft → spec/mel →
mfcc. The reference joins its per-feature branches with a CoGroupByKey;
here get_features computes every feature of a row in one pass, and
test_one_pass_features_equal_per_op_chain holds it to the per-op chain
bit for bit.
"""

import io
import wave

import numpy as np
import pytest
from pyspark.sql import functions as F

from klio_spark import envelope as env
from klio_spark.audio import (
    dsp,
    get_mel_spec,
    get_features,
    get_mfcc,
    get_spec,
    get_stft,
    load_audio,
    load_binary,
)
from klio_spark.config import DataIOConfig

SR = 8000  # small for test speed


@pytest.fixture(scope="module")
def wav_bytes():
    return dsp.synth_wav([440.0, 880.0], duration_s=0.5, sr=SR, noise=0.01)


def test_decode_wav_roundtrip(wav_bytes):
    y, sr = dsp.decode_wav(wav_bytes)
    assert sr == SR
    assert len(y) == SR // 2
    assert np.abs(y).max() <= 1.0
    # a synthesized tone dominates the spectrum (440 and 880 have ~equal energy)
    spec = np.abs(np.fft.rfft(y))
    peak_hz = np.argmax(spec) / (len(y) / SR)
    assert min(abs(peak_hz - 440.0), abs(peak_hz - 880.0)) < 5


def test_stft_shape_and_energy(wav_bytes):
    y, sr = dsp.decode_wav(wav_bytes)
    s = dsp.stft(y, n_fft=512, hop_length=128)
    assert s.shape[0] == 257  # 1 + n_fft//2
    mag = np.abs(s)
    # energy concentrated at the 440/880 Hz bins
    bin440 = round(440 * 512 / sr)
    assert mag[bin440].mean() > mag[50].mean() * 5


def test_mel_filterbank_properties():
    fb = dsp.mel_filterbank(SR, 512, n_mels=40)
    assert fb.shape == (40, 257)
    assert (fb >= 0).all()
    # each filter has support; band centers increase
    assert (fb.sum(axis=1) > 0).all()
    centers = fb.argmax(axis=1)
    assert (np.diff(centers) >= 0).all()


def test_mfcc_shape(wav_bytes):
    y, sr = dsp.decode_wav(wav_bytes)
    m = dsp.mfcc(y, sr, n_mfcc=13, n_fft=512, hop_length=128, n_mels=40)
    assert m.shape[0] == 13
    assert np.isfinite(m).all()


def test_dct_orthonormal():
    d = dsp.dct_ortho(40, 40)
    np.testing.assert_allclose(d @ d.T, np.eye(40), atol=1e-10)


@pytest.fixture()
def audio_store(tmp_path):
    for i, freqs in enumerate([[220.0], [440.0], [440.0, 880.0]]):
        (tmp_path / f"track-{i}.wav").write_bytes(
            dsp.synth_wav(freqs, duration_s=0.3, sr=SR, noise=0.005, seed=i)
        )
    return str(tmp_path)


def test_full_audio_pipeline(spark, audio_store):
    cfg = DataIOConfig(location=audio_store, file_suffix=".wav")
    df = env.from_elements(spark, ["track-0", "track-1", "track-2", "missing"])
    with_bytes = load_binary(df, cfg)
    rows = {r.element: r.payload for r in with_bytes.collect()}
    assert rows["missing"] is None and rows["track-0"] is not None

    loaded = load_audio(with_bytes.filter(F.col("payload").isNotNull()))
    assert dict(loaded.dtypes)["waveform"] == "array<float>"

    stft_df = get_stft(loaded, n_fft=256, hop_length=128)
    spec_df = get_spec(stft_df)
    out = spec_df.select("element", "spec", "sr").collect()
    assert len(out) == 3
    for r in out:
        assert r.sr == SR
        assert len(r.spec) == 129  # 1 + 256//2

    mel = get_mel_spec(loaded, n_fft=256, hop_length=128, n_mels=20)
    mf = get_mfcc(loaded, n_mfcc=5, n_fft=256, hop_length=128, n_mels=20)
    assert len(mel.collect()[0].mel_spec) == 20
    assert len(mf.collect()[0].mfcc) == 5

    # both features of every row in one pass, no join on element
    feats = get_features(
        with_bytes.filter(F.col("payload").isNotNull()),
        n_fft=256, hop_length=128, n_mels=20, n_mfcc=5,
    ).collect()
    assert len(feats) == 3
    assert all(len(r.mel_spec) == 20 and len(r.mfcc) == 5 for r in feats)


def test_render_plot_and_upload_roundtrip(spark, audio_store, tmp_path):
    """PNG render + upload runs end-to-end in EVERY environment: the
    matplotlib Agg path when the library is importable, the built-in
    numpy+zlib encoder otherwise — both must produce a real PNG file."""
    from klio_spark.audio import render_plot, upload_plots

    cfg = DataIOConfig(location=audio_store, file_suffix=".wav")
    df = env.from_elements(spark, ["track-1"])
    spec = get_spec(get_stft(load_audio(load_binary(df, cfg)),
                             n_fft=256, hop_length=128))
    rendered = render_plot(spec, "spec")
    row = rendered.select("element", "plot_png").collect()[0]
    assert bytes(row.plot_png)[:8] == b"\x89PNG\r\n\x1a\n"
    upload_plots(rendered, str(tmp_path / "plots"))
    assert (tmp_path / "plots" / "track-1.png").exists()


def test_fallback_png_encoder_is_valid_png():
    """The dependency-free encoder emits a structurally valid PNG: magic,
    IHDR dims matching the matrix, zlib-decompressible IDAT scanlines
    with the declared filter-0 layout, IEND — verified by parsing, plus
    origin='lower' row order (bottom matrix row = first scanline)."""
    import struct
    import zlib

    import numpy as np

    from klio_spark.audio import _matrix_to_png

    m = np.arange(12, dtype=np.float64).reshape(3, 4)
    png = _matrix_to_png(m, cmap="gray")
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    # IHDR: width, height, bit depth 8, color type 2 (RGB)
    assert png[12:16] == b"IHDR"
    w, h, depth, ctype = struct.unpack(">IIBB", png[16:26])
    assert (w, h, depth, ctype) == (4, 3, 8, 2)
    idat_start = png.index(b"IDAT")
    (idat_len,) = struct.unpack(">I", png[idat_start - 4 : idat_start])
    raw = zlib.decompress(png[idat_start + 4 : idat_start + 4 + idat_len])
    assert len(raw) == h * (1 + w * 3)  # filter byte + RGB per scanline
    rows = [raw[r * (1 + w * 3) : (r + 1) * (1 + w * 3)] for r in range(h)]
    assert all(r[0] == 0 for r in rows)  # filter 0
    # gray LUT + origin lower: first scanline is the LAST matrix row,
    # whose max cell (value 11 of 0..11) maps to 255
    assert rows[0][1 + (w - 1) * 3] == 255 and rows[2][1] == 0
    assert png.endswith(
        struct.pack(">I", 0) + b"IEND"
        + struct.pack(">I", zlib.crc32(b"IEND") & 0xFFFFFFFF)
    )


def test_numpy_dsp_matches_spark_path(spark, audio_store):
    """Differential: the distributed result equals direct numpy on the
    same bytes (FIXTURES.md F6 closeness check)."""
    cfg = DataIOConfig(location=audio_store, file_suffix=".wav")
    df = env.from_elements(spark, ["track-1"])
    row = (
        get_mel_spec(
            load_audio(load_binary(df, cfg)), n_fft=256, hop_length=128, n_mels=20
        )
        .select("mel_spec")
        .collect()[0]
    )
    raw = open(f"{audio_store}/track-1.wav", "rb").read()
    y, sr = dsp.decode_wav(raw)
    expect = dsp.melspectrogram(y, sr, 256, 128, 20).astype(np.float32)
    got = np.array(row.mel_spec, dtype=np.float32)
    np.testing.assert_allclose(got, expect, rtol=1e-5, atol=1e-6)


def _pcm_wav(y: np.ndarray, sr: int, width: int, channels: int) -> bytes:
    """WAV bytes of `y` (frames x channels, in [-1, 1]) at 8 or 16 bits."""
    if width == 1:
        pcm = np.clip(np.round(y * 127 + 128), 0, 255).astype(np.uint8)
    else:
        pcm = (y * 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(width)
        w.setframerate(sr)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


@pytest.fixture()
def mixed_store(tmp_path):
    """16-bit mono, 8-bit mono and 16-bit stereo WAVs."""
    t = np.arange(int(0.3 * SR)) / SR
    tone = lambda f: 0.7 * np.sin(2 * np.pi * f * t)
    (tmp_path / "mono16.wav").write_bytes(
        dsp.synth_wav([440.0], duration_s=0.3, sr=SR, noise=0.005, seed=1))
    (tmp_path / "mono8.wav").write_bytes(_pcm_wav(tone(330.0), SR, 1, 1))
    (tmp_path / "stereo16.wav").write_bytes(
        _pcm_wav(np.stack([tone(220.0), tone(660.0)], axis=1), SR, 2, 2))
    return str(tmp_path)


def _mats(rows, col):
    """element → the matrix's float32 bytes (None for a null matrix)."""
    return {
        r.element: None if r[col] is None
        else np.array(r[col], dtype=np.float32).tobytes()
        for r in rows
    }


def test_one_pass_features_equal_per_op_chain(spark, mixed_store):
    """Differential: get_features equals load_audio → get_stft/get_spec/
    get_mel_spec/get_mfcc bit for bit on the same store, and keeps a row
    whose blob is missing with null sr and features."""
    cfg = DataIOConfig(location=mixed_store, file_suffix=".wav")
    els = ["mono16", "mono8", "stereo16", "missing"]
    blobs = load_binary(env.from_elements(spark, els), cfg)
    kw = dict(n_fft=256, hop_length=128)
    mel_kw = dict(kw, n_mels=20)

    one = get_features(
        blobs, ("stft_mag", "stft_phase", "spec", "mel_spec", "mfcc"),
        n_mfcc=7, **mel_kw,
    ).collect()
    assert {r.element for r in one} == set(els)
    miss = next(r for r in one if r.element == "missing")
    assert miss.sr is None and miss.mel_spec is None and miss.mfcc is None

    audio = load_audio(blobs)
    stft_df = get_stft(audio, **kw)
    per_op = {
        "stft_mag": stft_df.collect(),
        "stft_phase": stft_df.collect(),
        "spec": get_spec(stft_df).collect(),
        "mel_spec": get_mel_spec(audio, **mel_kw).collect(),
        "mfcc": get_mfcc(audio, n_mfcc=7, **mel_kw).collect(),
    }
    assert {r.element: r.sr for r in one} == {
        r.element: r.sr for r in per_op["mel_spec"]}
    for col, rows in per_op.items():
        want = _mats(rows, col)
        assert want["missing"] is None, col
        assert _mats(one, col) == want, col


def test_get_features_subset_and_unknown_name(spark, mixed_store):
    """A feature subset gives only those columns; an unknown name fails
    before any job runs."""
    cfg = DataIOConfig(location=mixed_store, file_suffix=".wav")
    blobs = load_binary(env.from_elements(spark, ["mono8"]), cfg)
    out = get_features(blobs, ("mfcc",), n_fft=256, hop_length=128, n_mels=20)
    assert out.columns[-2:] == ["sr", "mfcc"] and "payload" not in out.columns
    with pytest.raises(ValueError):
        get_features(blobs, ("chroma",))
