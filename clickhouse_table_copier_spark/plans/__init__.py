"""Pure planning layer: partition specs, predicates, cast plans, sync plans."""

from clickhouse_table_copier_spark.plans.partition_spec import (  # noqa: F401
    PartitionField,
    PartitionSpec,
)
from clickhouse_table_copier_spark.plans.predicates import (  # noqa: F401
    equality_predicate,
    time_range_predicate,
    partition_predicate,
    virtual_column_predicate,
)
from clickhouse_table_copier_spark.plans.casting import (  # noqa: F401
    common_columns,
    cast_plan,
    align,
)
