"""Routing-program configuration: parse + normalize.

The reference engine's entire "query language" is a YAML document shipped
base64-encoded in the ``SPLIT_CONF`` env var (reference main.go:176,
291-305). This module mirrors its four config structs
(reference main.go:87-107) as dataclasses and performs the plan
normalization the reference does lazily at writer-creation time
(reference main.go:386-417), so the routing core receives a fully
resolved plan:

* a split with an explicit ``output_topic`` routes there
  (reference main.go:386-388);
* a split with an ``action`` name routes to ``actions[name]``; a name
  *missing* from the map resolves to ``None`` = silently drop the matched
  message (reference main.go:401-417, 533-541);
* a split with neither routes to ``actions["matched"]``
  (reference main.go:389-396), again dropping if absent;
* messages matching no split route to ``actions["unmatched"]`` if
  configured, else are discarded (reference main.go:460-482, 599-606).

YAML anchors/aliases used to share extractors (reference topic.yaml:3-14)
are resolved by the YAML parser itself; the ``cloud:`` field present in
production configs has no struct field and is ignored
(reference topic.yaml:21, main.go:94-98).
"""

from __future__ import annotations

import base64
import re
from dataclasses import dataclass, field

import yaml

# Reserved action names (reference main.go:395, 460). Every other action
# name is an ordinary lookup key into the ``actions`` map.
ACTION_MATCHED = "matched"
ACTION_UNMATCHED = "unmatched"

# Group-id fragments are validated to <= 64 chars (reference main.go:207-221).
_MAX_GROUP_FRAGMENT = 64
_GROUP_FRAGMENT_RE = re.compile(r"^[a-zA-Z0-9._-]+$")


class ConfigError(ValueError):
    """Invalid routing configuration (bad YAML shape, bad regex, ...)."""


@dataclass(frozen=True)
class Extractor:
    """A match predicate (reference main.go:104-107).

    ``use_regex=True`` -> regex partial match against the raw value
    (reference main.go:510-515); otherwise literal substring containment
    (reference main.go:516-522).
    """

    pattern: str
    use_regex: bool = False


@dataclass(frozen=True)
class Split:
    """One routing rule (reference main.go:87-92)."""

    extractor: Extractor
    output_topic: str | None = None
    action: str | None = None


@dataclass(frozen=True)
class ResolvedSplit:
    """A split after action/default resolution: ``topic is None`` means
    a matched message is dropped (reference main.go:409-417)."""

    pattern: str
    use_regex: bool
    topic: str | None


@dataclass
class Spliter:
    """One input-topic pipeline (reference main.go:94-98)."""

    input_topic: str
    actions: dict[str, str] = field(default_factory=dict)
    splits: list[Split] = field(default_factory=list)

    @property
    def unmatched_topic(self) -> str | None:
        return self.actions.get(ACTION_UNMATCHED)

    def resolved_splits(self) -> list[ResolvedSplit]:
        """Resolve every split to its output topic, preserving YAML order
        (order == priority: first match wins, reference main.go:595-597)."""
        out: list[ResolvedSplit] = []
        for s in self.splits:
            if s.output_topic:
                topic = s.output_topic
            elif s.action:
                topic = self.actions.get(s.action)  # None => drop
            else:
                topic = self.actions.get(ACTION_MATCHED)  # None => drop
            out.append(
                ResolvedSplit(
                    pattern=s.extractor.pattern,
                    use_regex=s.extractor.use_regex,
                    topic=topic,
                )
            )
        return out

    def validate(self) -> None:
        if not self.input_topic:
            raise ConfigError("spliter missing input_topic")
        if not self.splits:
            raise ConfigError(f"spliter {self.input_topic!r}: no splits")
        for s in self.splits:
            if not s.extractor.pattern:
                raise ConfigError(
                    f"spliter {self.input_topic!r}: split with empty pattern"
                )
            if s.extractor.use_regex:
                try:
                    re.compile(s.extractor.pattern)
                except re.error as e:  # fail at plan build, like main.go:451-454
                    raise ConfigError(
                        f"spliter {self.input_topic!r}: bad regex "
                        f"{s.extractor.pattern!r}: {e}"
                    ) from e


@dataclass
class SpliterCollection:
    """The whole routing program (reference main.go:100-102)."""

    spliters: list[Spliter] = field(default_factory=list)

    def validate(self) -> None:
        for sp in self.spliters:
            sp.validate()


def validate_group_fragment(value: str, name: str = "fragment") -> str:
    """Consumer-group-id fragment validation (reference main.go:207-221)."""
    if len(value) > _MAX_GROUP_FRAGMENT:
        raise ConfigError(f"{name} longer than {_MAX_GROUP_FRAGMENT} chars")
    if not _GROUP_FRAGMENT_RE.match(value):
        raise ConfigError(f"{name} contains invalid characters: {value!r}")
    return value


def group_id(prefix: str, suffix: str, input_topic: str) -> str:
    """Consumer group id layout (reference main.go:318-323)."""
    validate_group_fragment(prefix, "prefix")
    validate_group_fragment(suffix, "suffix")
    return f"{prefix}-streamer-{suffix}_{input_topic}"


def _parse_extractor(raw: object) -> Extractor:
    if not isinstance(raw, dict) or "pattern" not in raw:
        raise ConfigError(f"bad extractor: {raw!r}")
    return Extractor(
        pattern=str(raw["pattern"]),
        use_regex=bool(raw.get("use_regex", False)),
    )


def load_split_conf(yaml_text: str) -> SpliterCollection:
    """Parse the YAML routing program (reference main.go:291-305).

    Unknown top-level or spliter-level keys (e.g. ``cloud``,
    ``test_messages``) are ignored, matching the Go struct decoding.
    """
    doc = yaml.safe_load(yaml_text)
    if doc is None:
        return SpliterCollection()
    if not isinstance(doc, dict):
        raise ConfigError("top-level YAML must be a mapping")
    spliters: list[Spliter] = []
    for raw in doc.get("spliters_templates") or []:
        if not isinstance(raw, dict):
            raise ConfigError(f"bad spliter entry: {raw!r}")
        splits = [
            Split(
                extractor=_parse_extractor(rs.get("extractor")),
                output_topic=rs.get("output_topic"),
                action=rs.get("action"),
            )
            for rs in (raw.get("splits") or [])
        ]
        spliters.append(
            Spliter(
                input_topic=str(raw.get("input_topic", "")),
                actions={str(k): str(v) for k, v in (raw.get("actions") or {}).items()},
                splits=splits,
            )
        )
    coll = SpliterCollection(spliters=spliters)
    coll.validate()
    return coll


def load_split_conf_b64(b64_text: str) -> SpliterCollection:
    """Decode the base64 ``SPLIT_CONF`` payload then parse
    (reference main.go:176, 291)."""
    return load_split_conf(base64.b64decode(b64_text).decode("utf-8"))
