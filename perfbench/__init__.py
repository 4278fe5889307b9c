"""Layered benchmark of the iot_big_data_engineering_spark package (see README.md)."""
