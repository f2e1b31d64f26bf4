"""Pure-numpy DSP kernels for the audio operator surface.

The reference wraps librosa (audio/src/klio_audio/transforms/audio.py:
26-305: LoadAudio/GetSTFT/GetSpec/GetMelSpec/GetMFCC). librosa is not in
this container, so the kernels are implemented from the standard
definitions (Oppenheim & Schafer STFT; Slaney-style mel filterbank as in
the Auditory Toolbox; orthonormal DCT-II for MFCC). When librosa IS
available the transforms layer can swap it in — parameter names
(n_fft/hop_length/n_mels/n_mfcc, ref=max dB scaling) match.

Everything here runs inside Arrow-batched pandas UDFs on executors —
numpy vectorized, no Python-per-sample loops.
"""

from __future__ import annotations

import io
import wave

import numpy as np


def decode_wav(raw: bytes) -> tuple[np.ndarray, int]:
    """PCM WAV bytes → (float32 mono waveform in [-1,1], sample_rate).

    Stdlib `wave` handles the RIFF container (LoadAudio parity for the
    WAV case; other codecs need soundfile/librosa and raise)."""
    with wave.open(io.BytesIO(raw), "rb") as w:
        sr = w.getframerate()
        n = w.getnframes()
        width = w.getsampwidth()
        channels = w.getnchannels()
        pcm = w.readframes(n)
    if width == 2:
        y = np.frombuffer(pcm, dtype="<i2").astype(np.float32) / 32768.0
    elif width == 1:
        y = (np.frombuffer(pcm, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    elif width == 4:
        y = np.frombuffer(pcm, dtype="<i4").astype(np.float32) / 2147483648.0
    else:
        raise NotImplementedError(f"sample width {width} needs soundfile/librosa")
    if channels > 1:
        y = y.reshape(-1, channels).mean(axis=1)
    return y, sr


def frame(y: np.ndarray, n_fft: int, hop_length: int) -> np.ndarray:
    """Centered frames with reflect padding (librosa.stft center=True
    convention), shape (n_frames, n_fft)."""
    pad = n_fft // 2
    ypad = np.pad(y, pad, mode="reflect") if len(y) >= pad + 1 else np.pad(
        y, pad, mode="constant"
    )
    n_frames = 1 + (len(ypad) - n_fft) // hop_length
    idx = np.arange(n_fft)[None, :] + hop_length * np.arange(n_frames)[:, None]
    return ypad[idx]


def stft(y: np.ndarray, n_fft: int = 2048, hop_length: int = 512) -> np.ndarray:
    """Complex STFT, shape (1 + n_fft//2, n_frames) — librosa layout."""
    win = np.hanning(n_fft + 1)[:-1]  # periodic hann
    frames = frame(y, n_fft, hop_length) * win[None, :]
    return np.fft.rfft(frames, n=n_fft, axis=1).T


def amplitude_to_db(s: np.ndarray, ref: str | float = "max", top_db: float = 80.0) -> np.ndarray:
    """20·log10(|s|/ref), clipped to [max - top_db, max] (librosa
    amplitude_to_db(ref=np.max) convention used by GetSpec, audio.py:135-187)."""
    mag = np.abs(s)
    amin = 1e-10
    ref_val = mag.max() if ref == "max" else float(ref)
    db = 20.0 * np.log10(np.maximum(amin, mag) / max(amin, ref_val))
    if top_db is not None:
        db = np.maximum(db, db.max() - top_db)
    return db


def power_to_db(s: np.ndarray, ref: str | float = "max", top_db: float = 80.0) -> np.ndarray:
    p = np.abs(s)
    amin = 1e-10
    ref_val = p.max() if ref == "max" else float(ref)
    db = 10.0 * np.log10(np.maximum(amin, p) / max(amin, ref_val))
    if top_db is not None:
        db = np.maximum(db, db.max() - top_db)
    return db


def hz_to_mel(f: np.ndarray) -> np.ndarray:
    """Slaney mel scale (linear below 1 kHz, log above) — the librosa
    default (htk=False)."""
    f = np.asarray(f, dtype=np.float64)
    f_sp = 200.0 / 3
    mels = f / f_sp
    min_log_hz = 1000.0
    min_log_mel = min_log_hz / f_sp
    logstep = np.log(6.4) / 27.0
    log_mask = f >= min_log_hz
    mels = np.where(log_mask, min_log_mel + np.log(np.maximum(f, 1e-10) / min_log_hz) / logstep, mels)
    return mels


def mel_to_hz(m: np.ndarray) -> np.ndarray:
    m = np.asarray(m, dtype=np.float64)
    f_sp = 200.0 / 3
    freqs = m * f_sp
    min_log_hz = 1000.0
    min_log_mel = min_log_hz / f_sp
    logstep = np.log(6.4) / 27.0
    log_mask = m >= min_log_mel
    return np.where(log_mask, min_log_hz * np.exp(logstep * (m - min_log_mel)), freqs)


def mel_filterbank(
    sr: int, n_fft: int, n_mels: int = 128, fmin: float = 0.0, fmax: float | None = None
) -> np.ndarray:
    """Triangular Slaney-normalized mel filterbank, shape (n_mels, 1+n_fft//2)."""
    fmax = fmax or sr / 2.0
    fft_freqs = np.linspace(0, sr / 2.0, 1 + n_fft // 2)
    mel_pts = mel_to_hz(np.linspace(hz_to_mel(fmin), hz_to_mel(fmax), n_mels + 2))
    weights = np.zeros((n_mels, len(fft_freqs)))
    fdiff = np.diff(mel_pts)
    ramps = mel_pts[:, None] - fft_freqs[None, :]
    for i in range(n_mels):
        lower = -ramps[i] / fdiff[i]
        upper = ramps[i + 2] / fdiff[i + 1]
        weights[i] = np.maximum(0, np.minimum(lower, upper))
    # Slaney area normalization
    enorm = 2.0 / (mel_pts[2 : n_mels + 2] - mel_pts[:n_mels])
    weights *= enorm[:, None]
    return weights


def mel_from_stft(s: np.ndarray, sr: int, n_fft: int, n_mels: int = 128) -> np.ndarray:
    """Power mel spectrogram of a complex STFT `s` taken with `n_fft`."""
    return mel_filterbank(sr, n_fft, n_mels) @ (np.abs(s) ** 2)


def melspectrogram(
    y: np.ndarray,
    sr: int,
    n_fft: int = 2048,
    hop_length: int = 512,
    n_mels: int = 128,
) -> np.ndarray:
    """Power mel spectrogram (GetMelSpec parity, audio.py:190-244)."""
    return mel_from_stft(stft(y, n_fft, hop_length), sr, n_fft, n_mels)


def dct_ortho(n_out: int, n_in: int) -> np.ndarray:
    """Orthonormal DCT-II basis, shape (n_out, n_in) (scipy.fft.dct norm='ortho')."""
    k = np.arange(n_out)[:, None]
    n = np.arange(n_in)[None, :]
    basis = np.cos(np.pi * k * (2 * n + 1) / (2 * n_in))
    basis *= np.sqrt(2.0 / n_in)
    basis[0] *= np.sqrt(0.5)
    return basis


def mfcc_from_mel(m: np.ndarray, n_mfcc: int = 20) -> np.ndarray:
    """MFCCs of a power mel spectrogram `m` (n_mels rows)."""
    return dct_ortho(n_mfcc, m.shape[0]) @ power_to_db(m, ref="max")


def mfcc(
    y: np.ndarray,
    sr: int,
    n_mfcc: int = 20,
    n_fft: int = 2048,
    hop_length: int = 512,
    n_mels: int = 128,
) -> np.ndarray:
    """MFCCs = DCT-II(ortho) of the dB mel spectrogram (GetMFCC parity,
    audio.py:247-305: power_to_db + librosa.feature.mfcc)."""
    return mfcc_from_mel(melspectrogram(y, sr, n_fft, hop_length, n_mels), n_mfcc)


def synth_wav(
    freqs: list[float],
    duration_s: float = 1.0,
    sr: int = 22050,
    noise: float = 0.0,
    seed: int = 42,
) -> bytes:
    """Deterministic synthetic WAV bytes (FIXTURES.md F6: sum of sine
    tones + seeded noise) — the test corpus generator."""
    t = np.arange(int(duration_s * sr)) / sr
    y = sum(np.sin(2 * np.pi * f * t) for f in freqs) / max(1, len(freqs))
    if noise:
        y = y + noise * np.random.default_rng(seed).standard_normal(len(t))
    pcm = np.clip(y * 0.8, -1, 1)
    pcm16 = (pcm * 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(pcm16.tobytes())
    return buf.getvalue()
