from open_data_linter_spark.core.model import (  # noqa: F401
    Rule,
    RuleScope,
    LintResult,
    InvalidContent,
    VIOLATION_SCHEMA,
    AUDIT_SCHEMA,
)
