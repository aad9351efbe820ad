from lakeforge.pipelines.medallion import bronze_to_silver, build_gold

__all__ = ["bronze_to_silver", "build_gold"]
