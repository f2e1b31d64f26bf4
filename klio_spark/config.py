"""klio-job.yaml-shaped job configuration.

Mirrors the reference's config system (core/src/klio_core/config/core.py:
36-319 BaseKlioConfig/KlioConfig/KlioJobConfig, config/_io.py:42-69
@supports registry keyed on (type, direction)) with plain dataclasses:

    job_name: my-job
    pipeline_options: {...}            # -> SparkSession confs
    job_config:
      allow_non_klio_messages: false   # default of each event input's allow_non_klio
      events:
        inputs:  [{type: file, location: ..., format: text}]
        outputs: [{type: file, location: ..., format: parquet}]
      data:
        inputs:  [{type: file, location: ..., file_suffix: .ogg, ping: false,
                   skip_klio_existence_check: false}]
        outputs: [{type: file, location: ..., file_suffix: .png, force: false}]
      <arbitrary user keys>            # dynamic attributes (core.py:186-209)

The dual-channel split — *event* I/O (what to work on) vs *data* I/O
(where the heavy bytes live) — is the user-facing contract (SURVEY §1.3).
"""

from __future__ import annotations

import dataclasses
import string
from typing import Any

try:
    import yaml
    _HAS_YAML = True
except ImportError:  # pragma: no cover - pyyaml is in the base image
    _HAS_YAML = False


class KlioConfigTemplatingError(Exception):
    """A $VAR / ${VAR} in klio-job.yaml has no matching --template value
    (mirrors KlioConfigTemplatingException, _preprocessing.py:160-161)."""


def parse_key_value_list(pairs: list[str] | dict[str, str]) -> dict[str, str]:
    """["k=v", ...] → {"k": "v"} with whitespace trimmed
    (_preprocessing.py:207-223's CLI contract for --template/--override).
    Key case is preserved — string.Template vars and user config keys are
    case-sensitive, so the reference's key-lowering would silently break
    `$YESTERDAY`-style templates."""
    if isinstance(pairs, dict):
        return {str(k): str(v) for k, v in pairs.items()}
    out: dict[str, str] = {}
    for item in pairs or []:
        # split on the FIRST '=' only (values may contain '=', e.g.
        # tokens/URLs — matching `job config set`'s split), and trim only
        # the ENDS — interior whitespace is part of the value
        key, eq, value = item.partition("=")
        if not eq or not key.strip():
            raise ValueError(
                f"Malformed config override {item!r}, should be '<key>=<value>'"
            )
        out[key.strip()] = value.strip()
    return out


def apply_templates(raw_yaml: str, templates: dict[str, str]) -> str:
    """``$VAR`` / ``${VAR}`` substitution over the raw YAML text
    (_preprocessing.py:133-161). Missing variables raise
    KlioConfigTemplatingError. With no templates given, the text passes
    through untouched (so configs containing literal '$' still parse)."""
    if not templates:
        return raw_yaml
    try:
        return string.Template(raw_yaml).substitute(**templates)
    except KeyError as e:
        raise KlioConfigTemplatingError(
            f"config contains template variable {e} with no --template value"
        ) from e
    except ValueError as e:
        raise KlioConfigTemplatingError(str(e)) from e


def _io_list_index(items: list, part: str) -> int:
    """Resolve one override path segment against an I/O *list*.

    Accepts a plain index ("0"), an explicit `name` field, or the
    reference's auto-generated `<type><n>` names ("file0", "bigquery1" —
    _transform_io_list, _preprocessing.py:45-95). One step past the end
    creates a new entry (overrides may introduce new I/Os)."""
    if part.isdigit():
        idx = int(part)
        while idx >= len(items):
            items.append({})
        return idx
    counters: dict[str, int] = {}
    for i, conf in enumerate(items):
        if not isinstance(conf, dict):
            continue
        if "name" in conf:
            # named entries are keyed by name and don't consume the
            # auto-name counter (reference _transform_io_list)
            if conf["name"] == part:
                return i
            continue
        t = conf.get("type", "unknown")
        auto = f"{t}{counters.get(t, 0)}"
        counters[t] = counters.get(t, 0) + 1
        if auto == part:
            return i
    # unseen name → new entry; remember the name so later override paths
    # addressing the same entry resolve to it
    items.append({"name": part})
    return len(items) - 1


def coerce_scalar(value: str):
    """CLI override values arrive as strings; interpret them the way the
    YAML parser would have ('false' → False, '3' → 3) so a boolean flag
    set via -O / `job config set` doesn't become a truthy string that
    silently flips `if cfg.flag:` checks the wrong way."""
    if not isinstance(value, str):
        return value
    stripped = value.strip()
    # quoting opts out of coercion entirely: -O key='"off"' or
    # -O job_name='"1.10"' stays the literal string — the escape hatch
    # for topics named 'off' and version-like names YAML would mangle
    if (
        len(stripped) >= 2
        and stripped[0] == stripped[-1]
        and stripped[0] in ("'", '"')
    ):
        return stripped[1:-1]
    low = stripped.lower()
    if low in ("true", "yes", "on"):
        return True
    if low in ("false", "no", "off"):
        return False
    if low in ("null", "none", "~", ""):
        return None
    try:
        return int(value)
    except ValueError:
        pass
    # float() also accepts 'nan'/'inf'/'infinity' (any sign/case) — YAML
    # treats those spellings as strings (only '.nan'/'.inf' are floats),
    # and a config value that parses as NaN is never what a CLI user meant
    if low.lstrip("+-") not in ("nan", "inf", "infinity"):
        try:
            return float(value)
        except ValueError:
            pass
    return value


def apply_overrides(config: dict, overrides: dict[str, str]) -> dict:
    """Dotted-path assignment, creating missing intermediate dicts
    (_apply_overrides, _preprocessing.py:163-204; glom.assign with
    missing=dict). Paths may address I/O list entries by index, `name`,
    or `<type><n>` (the reference's named-I/O transform). Values are
    YAML-coerced (coerce_scalar) before assignment."""
    for path, raw_value in (overrides or {}).items():
        value = coerce_scalar(raw_value)
        parts = path.split(".")
        cur: Any = config
        for depth, part in enumerate(parts):
            last = depth == len(parts) - 1
            if isinstance(cur, list):
                idx = _io_list_index(cur, part)
                if last:
                    cur[idx] = value
                else:
                    if not isinstance(cur[idx], (dict, list)):
                        cur[idx] = {}
                    cur = cur[idx]
            else:
                if last:
                    cur[part] = value
                else:
                    nxt = cur.get(part)
                    if not isinstance(nxt, (dict, list)):
                        nxt = {}
                        cur[part] = nxt
                    cur = nxt
    return config


def preprocess(
    raw: str | dict,
    templates: list[str] | dict[str, str] | None = None,
    overrides: list[str] | dict[str, str] | None = None,
) -> dict:
    """Template → parse → override, the reference's preprocessing pipeline
    (KlioConfigPreprocessor.process, _preprocessing.py:232-254)."""
    if not _HAS_YAML:  # pragma: no cover
        raise RuntimeError("pyyaml not available")
    tpl = parse_key_value_list(templates or [])
    ovr = parse_key_value_list(overrides or [])
    if isinstance(raw, dict):
        raw = yaml.dump(raw)
    cfg = yaml.safe_load(apply_templates(raw, tpl)) or {}
    return apply_overrides(cfg, ovr)


@dataclasses.dataclass
class EventIOConfig:
    """One event input/output. type selects the reader/writer from the
    sources/sinks registry (mirrors config/_io.py:200-492)."""

    type: str = "file"
    location: str | None = None
    format: str = "text"  # text | parquet | avro | json | csv
    skip_klio_read: bool = False   # config/_io.py:135-153
    skip_klio_write: bool = False  # config/_io.py:157-175
    options: dict[str, Any] = dataclasses.field(default_factory=dict)
    # streaming (pub/sub stand-in): the Kafka topic a stream input reads
    topic: str | None = None

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> "EventIOConfig":
        known = {f.name for f in dataclasses.fields(cls)}
        # "name" is a preprocessing-level addressing label (override paths),
        # not an I/O option — reference pops it too (_preprocessing.py:84-87)
        kw = {k: v for k, v in d.items() if k in known}
        kw.setdefault("options", {})
        kw["options"].update(
            {k: v for k, v in d.items() if k not in known and k != "name"}
        )
        return cls(**kw)


@dataclasses.dataclass
class DataIOConfig:
    """One data input/output: a blob location + suffix and the existence /
    ping / force short-circuit flags (config/_io.py:317-331, 494-531)."""

    type: str = "file"
    location: str | None = None
    file_suffix: str = ""
    ping: bool = False
    force: bool = False
    skip_klio_existence_check: bool = False

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> "DataIOConfig":
        known = {f.name for f in dataclasses.fields(cls)}
        return cls(**{k: v for k, v in d.items() if k in known})


@dataclasses.dataclass
class KlioJobConfig:
    job_name: str = "klio-spark-job"
    project: str = "local"
    event_inputs: list[EventIOConfig] = dataclasses.field(default_factory=list)
    event_outputs: list[EventIOConfig] = dataclasses.field(default_factory=list)
    data_inputs: list[DataIOConfig] = dataclasses.field(default_factory=list)
    data_outputs: list[DataIOConfig] = dataclasses.field(default_factory=list)
    pipeline_options: dict[str, Any] = dataclasses.field(default_factory=dict)
    user: dict[str, Any] = dataclasses.field(default_factory=dict)  # core.py:186-209
    # directory of the loaded klio-job.yaml (set by the CLI); lets run.py
    # resolve its own files (blocklists, vocab …) relative to the job dir
    # the same way event/data locations are resolved
    job_dir: str = ""

    @classmethod
    def from_dict(cls, raw: dict[str, Any]) -> "KlioJobConfig":
        jc = dict(raw.get("job_config", {}))
        events = jc.pop("events", {}) or {}
        data = jc.pop("data", {}) or {}
        # `or []` handles present-but-null keys (all entries commented
        # out in the yaml) — .get's default only covers ABSENT keys
        event_inputs = [
            EventIOConfig.from_dict(d) for d in events.get("inputs") or []
        ]
        if "allow_non_klio_messages" in jc:
            # the job-level key is every event input's default; an
            # input's own allow_non_klio option wins
            allow = jc.pop("allow_non_klio_messages")
            for io in event_inputs:
                io.options.setdefault("allow_non_klio", allow)
        return cls(
            job_name=raw.get("job_name", "klio-spark-job"),
            project=raw.get("project", raw.get("gcp_project", "local")),
            event_inputs=event_inputs,
            event_outputs=[
                EventIOConfig.from_dict(d) for d in events.get("outputs") or []
            ],
            data_inputs=[
                DataIOConfig.from_dict(d) for d in data.get("inputs") or []
            ],
            data_outputs=[
                DataIOConfig.from_dict(d) for d in data.get("outputs") or []
            ],
            pipeline_options=dict(raw.get("pipeline_options", {})),
            user=jc,  # leftover keys are dynamic user attributes
        )

    @classmethod
    def from_yaml(
        cls,
        path: str,
        templates: list[str] | dict[str, str] | None = None,
        overrides: list[str] | dict[str, str] | None = None,
    ) -> "KlioJobConfig":
        """Parse klio-job.yaml, with `klio job run --template/--override`
        preprocessing applied first (templates fill $VARs in the raw text;
        overrides assign dotted paths into the parsed dict)."""
        if not _HAS_YAML:
            raise RuntimeError("pyyaml not available; use from_dict")
        with open(path) as f:
            raw = f.read()
        return cls.from_dict(preprocess(raw, templates, overrides))

    def spark_confs(self) -> dict[str, str]:
        """pipeline_options that look like spark confs pass through."""
        return {
            k: str(v)
            for k, v in self.pipeline_options.items()
            if k.startswith("spark.")
        }
