"""Attribute schema: fixed, up-front declared, strictly typed.

Reference: AttributeTable / AttributeDefinition / AttributeKind
(/root/reference/src/events.rs:207-271). Six attribute types, no nesting.

Spark mapping (SURVEY.md §1.2/§1.4): the schema is validated against the
event DataFrame's StructType once at pipeline build; ``Undefined`` is SQL
NULL; Float is exact decimal (DecimalType(28,6)), never double.
"""

from __future__ import annotations

import enum
from dataclasses import dataclass

from .errors import DuplicateAttribute, NonExistingAttribute


class AttributeKind(enum.Enum):
    BOOLEAN = "boolean"
    INTEGER = "integer"
    FLOAT = "float"
    STRING = "string"
    INTEGER_LIST = "integer_list"
    STRING_LIST = "string_list"

    @property
    def is_list(self) -> bool:
        return self in (AttributeKind.INTEGER_LIST, AttributeKind.STRING_LIST)

    @property
    def spark_type(self) -> str:
        """Spark SQL type string for this attribute kind."""
        return {
            AttributeKind.BOOLEAN: "boolean",
            AttributeKind.INTEGER: "bigint",
            AttributeKind.FLOAT: "decimal(28,6)",
            AttributeKind.STRING: "string",
            AttributeKind.INTEGER_LIST: "array<bigint>",
            AttributeKind.STRING_LIST: "array<string>",
        }[self]


@dataclass(frozen=True)
class AttributeDefinition:
    name: str
    kind: AttributeKind

    @staticmethod
    def boolean(name: str) -> "AttributeDefinition":
        return AttributeDefinition(name, AttributeKind.BOOLEAN)

    @staticmethod
    def integer(name: str) -> "AttributeDefinition":
        return AttributeDefinition(name, AttributeKind.INTEGER)

    @staticmethod
    def float(name: str) -> "AttributeDefinition":
        return AttributeDefinition(name, AttributeKind.FLOAT)

    @staticmethod
    def string(name: str) -> "AttributeDefinition":
        return AttributeDefinition(name, AttributeKind.STRING)

    @staticmethod
    def integer_list(name: str) -> "AttributeDefinition":
        return AttributeDefinition(name, AttributeKind.INTEGER_LIST)

    @staticmethod
    def string_list(name: str) -> "AttributeDefinition":
        return AttributeDefinition(name, AttributeKind.STRING_LIST)


class AttributeTable:
    """Dense-id attribute registry (reference src/events.rs:207-254).

    Duplicate names are rejected (src/events.rs:229-231); lookups of
    undeclared names raise NonExistingAttribute.
    """

    def __init__(self, definitions: list[AttributeDefinition] | tuple[AttributeDefinition, ...]):
        self._defs: list[AttributeDefinition] = []
        self._by_name: dict[str, int] = {}
        for definition in definitions:
            if definition.name in self._by_name:
                raise DuplicateAttribute(
                    f"attribute {definition.name!r} is already defined"
                )
            self._by_name[definition.name] = len(self._defs)
            self._defs.append(definition)

    def __getstate__(self) -> dict:
        """Pickle without the parse memo that ``ast.make_predicate``
        keeps on the table: a table shared by many forests would ship
        every predicate any of them ever parsed with each one. An
        unpickled table starts a fresh memo on its first parse."""
        state = self.__dict__.copy()
        state.pop("_predicate_cache", None)
        return state

    def __len__(self) -> int:
        return len(self._defs)

    def __iter__(self):
        return iter(self._defs)

    def index_of(self, name: str) -> int:
        try:
            return self._by_name[name]
        except KeyError:
            raise NonExistingAttribute(
                f"attribute {name!r} does not exist in the schema"
            ) from None

    def kind_of(self, name: str) -> AttributeKind:
        return self._defs[self.index_of(name)].kind

    def definition(self, index: int) -> AttributeDefinition:
        return self._defs[index]

    def names(self) -> list[str]:
        return [d.name for d in self._defs]
