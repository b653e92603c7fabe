from jschon_spark.compiler.context import (
    Compiled,
    Ctx,
    VIOLATION_DDL,
    VIOLATION_STRUCT,
    empty_violations,
    escape_pointer,
    jtype_of,
)
from jschon_spark.compiler.core import (
    CompileError,
    CompiledSchema,
    Compiler,
    Plan,
    compile_schema,
)
from jschon_spark.compiler.catalog import SchemaCatalog
from jschon_spark.compiler.vocabulary import CustomKeyword
from jschon_spark.compiler.pointer import (
    PointerError,
    json_pointer_get,
    pointer_get,
    relative_pointer,
)
from jschon_spark.compiler.spark_schema import (
    SchemaDerivationError,
    spark_schema_for,
    validate_json_column,
)

__all__ = [
    "Compiled",
    "Ctx",
    "VIOLATION_DDL",
    "VIOLATION_STRUCT",
    "empty_violations",
    "escape_pointer",
    "jtype_of",
    "CompileError",
    "CompiledSchema",
    "Compiler",
    "Plan",
    "compile_schema",
    "SchemaDerivationError",
    "spark_schema_for",
    "validate_json_column",
    "SchemaCatalog",
    "CustomKeyword",
    "PointerError",
    "json_pointer_get",
    "pointer_get",
    "relative_pointer",
]
