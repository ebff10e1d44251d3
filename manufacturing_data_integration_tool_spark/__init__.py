"""PySpark-native manufacturing data-integration / analytics engine.

A from-scratch Spark rebuild of the capabilities of
kshres31/Manufacturing-Data-Integration-Tool (reference surface: XML
config-driven CSV validation + ETL, ``src/__init__.py`` ``__all__``), plus
the LLM-data-pipeline operator set (dedup, similarity search, text
analysis, multimodal columns) designed for 100 TB scale.

Rules compile to Catalyst ``Column`` expressions — validation is one
declarative plan, never a Python row loop.
"""

from .config import (
    EtlSettings,
    FieldMapping,
    GlobalRule,
    IntegrationConfig,
    Rule,
    SourceSettings,
    TargetSettings,
    load_config,
    parse_config_xml,
    spark_type_for,
)
from .plans import ValidationResult, validate

__all__ = [
    "EtlSettings",
    "FieldMapping",
    "GlobalRule",
    "IntegrationConfig",
    "Rule",
    "SourceSettings",
    "TargetSettings",
    "load_config",
    "parse_config_xml",
    "spark_type_for",
    "ValidationResult",
    "validate",
]

__version__ = "0.1.0"
