"""Pipeline configuration dataclasses + YAML loading.

Mirrors the reference config surface (internal/pipeline/pipeline.go:18-24,
cmd/pipeline/pipeline.go:36-41, examples/*/pipeline.yaml) with the same YAML
key names, so reference pipeline.yaml files parse with only the Engine
section re-interpreted for Spark. Env overrides use the ``AGN_`` prefix
(cmd/pipeline/pipeline.go:63-69): ``AGN_BATCHER_MAXBATCHSIZE=50`` overrides
``Batcher.MaxBatchSize``.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field
from pathlib import Path

import yaml


def _parse_duration(v) -> float:
    """Go-style duration string ('10s', '1m', '500ms', '1h') → seconds."""
    if isinstance(v, (int, float)):
        return float(v)
    m = re.fullmatch(r"(\d+(?:\.\d+)?)(ms|s|m|h)", str(v).strip())
    if not m:
        raise ValueError(f"bad duration {v!r}")
    n = float(m.group(1))
    return n * {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}[m.group(2)]


@dataclass
class InitConfig:
    """internal/pipeline/init.go:17-24."""
    Setup: list[str] = field(default_factory=list)
    Start: str = "start.sql"
    DefaultStart: int = 0
    ForceStart: int | None = None


@dataclass
class TipTrackerConfig:
    """internal/pipeline/tip_tracker.go:17-30 (PollInterval default 10s)."""
    Tip: str = "tip.sql"
    PollIntervalS: float = 10.0
    StopAfter: int | None = None  # stop after N non-null tips (tests/backfills)


@dataclass
class BatcherConfig:
    """internal/pipeline/batcher.go:11-22 (MaxBatchSize default 100)."""
    MaxBatchSize: int = 100
    StopAfter: int | None = None  # emit at most N batches


@dataclass
class StageConfig:
    """internal/pipeline/stage.go:45-62; per-stage engine settings map to
    scoped spark.conf entries."""
    Files: list[str] = field(default_factory=list)
    Settings: dict = field(default_factory=dict)


@dataclass
class StepConfig:
    """internal/pipeline/step.go:11-29: a Step is a Stage XOR a Sequencer;
    Sequencer forces Workers=1."""
    Stage: StageConfig | None = None
    Sequencer: dict | None = None
    Workers: int = 1
    ChanSize: int = 1


@dataclass
class RetryStrategy:
    """internal/pipeline_retrier/pipeline_retrier.go:22-36."""
    MaxBatchSizeMultiplier: float = 0.8
    MaxRetries: int = 5


@dataclass
class EngineConfig:
    """Local → local[*] SparkSession; Remote → master/connect URL.

    The reference's Local engine spawns a clickhouse child process with
    server settings + UDF bundles (local_engine.go:24-124); our analog is a
    SparkSession with a conf dict (+ kernel UDFs always registered)."""
    Local: dict | None = None
    Remote: dict | None = None

    @property
    def spark_conf(self) -> dict:
        src = (self.Local or self.Remote or {})
        return dict(src.get("SparkConf", {}))

    @property
    def master(self) -> str | None:
        if self.Remote and self.Remote.get("Master"):
            return self.Remote["Master"]
        if self.Local:
            return self.Local.get("Master", "local[*]")
        return None


@dataclass
class PipelineConfig:
    """internal/pipeline/pipeline.go:18-24 + cmd/pipeline/pipeline.go:36-41."""
    Engine: EngineConfig = field(default_factory=EngineConfig)
    Init: InitConfig = field(default_factory=InitConfig)
    TipTracker: TipTrackerConfig = field(default_factory=TipTrackerConfig)
    Batcher: BatcherConfig = field(default_factory=BatcherConfig)
    Steps: list[StepConfig] = field(default_factory=list)
    Retry: RetryStrategy = field(default_factory=RetryStrategy)
    Vars: dict = field(default_factory=dict)

    @classmethod
    def from_yaml(cls, path: str | Path, env: dict | None = None) -> "PipelineConfig":
        """Load from a local path OR an object-store URL (file/http(s)/s3) —
        the reference reads its config through objstr
        (cmd/pipeline/pipeline.go:63-69), so URLs are first-class here."""
        from .objstr import read_text
        raw = yaml.safe_load(read_text(str(path))) or {}
        raw = _apply_env_overrides(raw, env if env is not None else dict(os.environ))
        return cls.from_dict(raw)

    @classmethod
    def from_dict(cls, raw: dict) -> "PipelineConfig":
        eng = raw.get("Engine", {}) or {}
        init = raw.get("Init", {}) or {}
        tip = raw.get("TipTracker", {}) or {}
        bat = raw.get("Batcher", {}) or {}
        retry = raw.get("Retry", {}) or {}
        steps = []
        for s in raw.get("Steps", []) or []:
            stage = None
            if "Stage" in s and s["Stage"] is not None:
                stage = StageConfig(Files=list(s["Stage"].get("Files", [])),
                                    Settings=dict(s["Stage"].get("Settings", {})))
            steps.append(StepConfig(
                Stage=stage,
                Sequencer=s.get("Sequencer"),
                Workers=1 if s.get("Sequencer") is not None else int(s.get("Workers", 1)),
                ChanSize=int(s.get("ChanSize", 1))))
        return cls(
            Engine=EngineConfig(Local=eng.get("Local"), Remote=eng.get("Remote")),
            Init=InitConfig(
                Setup=list(init.get("Setup", [])),
                Start=init.get("Start", "start.sql"),
                DefaultStart=int(init.get("DefaultStart", 0)),
                ForceStart=(int(init["ForceStart"])
                            if init.get("ForceStart") is not None else None)),
            TipTracker=TipTrackerConfig(
                Tip=tip.get("Tip", "tip.sql"),
                PollIntervalS=_parse_duration(tip.get("PollInterval", 10)),
                StopAfter=(int(tip["StopAfter"])
                           if tip.get("StopAfter") is not None else None)),
            Batcher=BatcherConfig(
                MaxBatchSize=int(bat.get("MaxBatchSize", 100)),
                StopAfter=(int(bat["StopAfter"])
                           if bat.get("StopAfter") is not None else None)),
            Steps=steps,
            Retry=RetryStrategy(
                MaxBatchSizeMultiplier=float(retry.get("MaxBatchSizeMultiplier", 0.8)),
                MaxRetries=int(retry.get("MaxRetries", 5))),
            Vars=dict(raw.get("Vars", {})),
        )


# env segments arrive UPPERCASE; from_dict looks keys up case-
# sensitively, so a segment with no existing YAML key must be inserted
# under its CANONICAL spelling or the override is a silent no-op
# (round-7 review finding: AGN_BATCHER_MAXBATCHSIZE on a config with no
# Batcher section wrote raw['BATCHER']['MAXBATCHSIZE'] and changed
# nothing).
_CANON_KEYS = {k.lower(): k for k in (
    "Engine", "Init", "TipTracker", "Batcher", "Steps", "Retry", "Vars",
    "Setup", "Start", "DefaultStart", "ForceStart",
    "Tip", "PollInterval", "StopAfter",
    "MaxBatchSize", "MaxBatchSizeMultiplier", "MaxRetries",
    "Local", "Remote", "Master", "SparkConf",
)}


def _apply_env_overrides(raw: dict, env: dict) -> dict:
    """``AGN_SECTION_KEY=value`` overrides ``raw[Section][Key]``
    (case-insensitive match against existing keys, canonical spelling
    for keys the YAML omits — mirroring cmd/pipeline/pipeline.go:63-69)."""
    def canon(node: dict, seg: str) -> str:
        return next((k for k in node if k.lower() == seg.lower()),
                    _CANON_KEYS.get(seg.lower(), seg))

    for name, value in env.items():
        if not name.startswith("AGN_"):
            continue
        path = name[4:].split("_")
        node = raw
        for seg in path[:-1]:
            match = canon(node, seg)
            nxt = node.get(match)
            if not isinstance(nxt, dict):
                nxt = {}
                node[match] = nxt
            node = nxt
        node[canon(node, path[-1])] = yaml.safe_load(value)
    return raw
