"""Adapter lifecycle contract (reference §3.2/§3.3).

The reference instantiates adapters reflectively, then calls
``configure(params)`` + ``initialize(context, config, path)`` + ``load(name,
partCount, partitioning)`` / ``save(name, stream)`` (reference
``Main.java:121-146``). The same lifecycle here, minus reflection: the
registry hands back classes, ``load`` returns an ordered dict of named
sub-streams (reference returns ``ListOrderedMap<String, DataStream>``,
``Main.java:126``).
"""

from __future__ import annotations

from abc import ABC, abstractmethod

from pyspark.sql import SparkSession

from ..model import DataStream, Partitioning
from ..registry import Param

_BOOL_WORDS = {
    "1": True, "true": True, "yes": True,
    "0": False, "false": False, "no": False,
}


class Adapter(ABC):
    verb: str = ""
    #: Declared parameter surface (reference ``DefinitionMetaBuilder``
    #: declarations, e.g. ``S3DirectColumnarInput.java:35-66``). Enforced in
    #: :meth:`configure`; subclasses extend with their own tuple.
    PARAMS: tuple[Param, ...] = ()

    def __init__(self) -> None:
        self.params: dict = {}
        self.spark: SparkSession | None = None
        self.path: str = ""

    def configure(self, params: dict | None) -> "Adapter":
        """Validate + apply params against the declared :attr:`PARAMS` meta.

        Mirrors the reference's typed-param contract: an unknown name is an
        error (never a silent no-op), a missing required param is an error,
        declared defaults fill absent or null params (reference
        ``DocGen.java:68-76`` renders the same descriptors to docs), and
        ``bool`` params are coerced once, here, so adapters read real
        bools."""
        supplied = dict(params or {})
        declared = {p.name: p for p in self.PARAMS}
        if declared:
            unknown = sorted(set(supplied) - set(declared))
            if unknown:
                raise ValueError(
                    f"Unknown param(s) {unknown} for adapter "
                    f"'{self.verb}'. Known: {sorted(declared)}"
                )
            missing = sorted(
                p.name for p in self.PARAMS
                if p.required and supplied.get(p.name) is None
            )
            if missing:
                raise ValueError(
                    f"Missing required param(s) {missing} for adapter "
                    f"'{self.verb}'"
                )
            for p in self.PARAMS:
                if supplied.get(p.name) is None:
                    if p.default is not None:
                        supplied[p.name] = p.default
                elif p.type == "bool":
                    supplied[p.name] = self._bool(p.name, supplied[p.name])
        self.params = supplied
        return self

    def _bool(self, name: str, value) -> bool:
        if isinstance(value, bool):
            return value
        word = str(value).strip().lower()
        if word in _BOOL_WORDS:
            return _BOOL_WORDS[word]
        raise ValueError(
            f"Param '{name}' of adapter '{self.verb}' must be a bool "
            f"(true/false, yes/no, 1/0), got {value!r}"
        )

    def initialize(self, spark: SparkSession, path: str) -> "Adapter":
        self.spark = spark
        self.path = path
        return self


class InputAdapter(Adapter):
    @abstractmethod
    def load(
        self,
        name: str,
        part_count: int | None = None,
        partitioning: Partitioning = Partitioning.HASHCODE,
    ) -> dict[str, DataStream]:
        """Load the source into one or more named sub-streams."""


class OutputAdapter(Adapter):
    @abstractmethod
    def save(self, name: str, stream: DataStream) -> None:
        """Persist one stream under ``name`` (an action — runs the job)."""
