from .rules import CompileContext, ERROR_STRUCT_TYPE, ERRORS_ARRAY_TYPE, compile_rule
from .validator import ValidationResult, validate
from . import dataset_rules

__all__ = [
    "CompileContext",
    "ERROR_STRUCT_TYPE",
    "ERRORS_ARRAY_TYPE",
    "compile_rule",
    "ValidationResult",
    "validate",
    "dataset_rules",
]
