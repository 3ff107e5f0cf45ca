from .layout import (  # noqa: F401
    write_bucketed,
    write_clustered,
    write_partitioned,
)
