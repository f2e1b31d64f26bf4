"""Audio feature job: track ids in, mel/MFCC features out.

Mirrors the reference's integration/audio-spectrograms pipeline (run.py:
46-120) minus the matplotlib plots: existence-checked ids → load bytes →
decode → mel spectrogram + MFCC → features parquet next to the event
output. The prologue (cli `job run`) already dropped ids whose .wav is
missing and pass-through'd ping messages.
"""

from klio_spark.audio import get_features, load_binary


def features(df, config):
    """The features table `run` writes: element, sr, mel_spec, mfcc."""
    # one pass decodes each WAV once and computes both features from one
    # shared mel spectrogram, so the reference's per-feature branches and
    # their CoGroupByKey (integration/audio-spectrograms/run.py:76-91)
    # need no join here
    return get_features(
        load_binary(df.select("element"), config.data_inputs[0]),
        ("mel_spec", "mfcc"),
        n_fft=512,
        hop_length=256,
        n_mels=32,
        n_mfcc=8,
    )


def run(df, config):
    out_dir = config.event_outputs[0].location + "_features"
    features(df, config).write.mode("overwrite").parquet(out_dir)
    return df
